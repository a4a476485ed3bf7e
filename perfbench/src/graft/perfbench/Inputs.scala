package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.synth.SourceFiles

/** Seeded raw inputs: rows of the `(repo, path, commit, lang, content)`
  * table from [[SourceFiles.row]], with a share of contents truncated at a
  * seeded offset so the parse-error path runs. Written once as plain
  * parquet and cached per (generator key, seed, size); everything the
  * benchmark checks is computed from this parquet with plain Spark.
  *
  * Row roles are index ranges: `[0, sRows)` is the served table, the next
  * `mRows` feed one maintenance cycle, and the next `mRows / 100` are the
  * MERGE inserts. */
object Inputs {
  val userCols: Seq[String] = Seq("repo", "path", "commit", "lang", "content")

  final case class Raw(dir: String, firstGenSeconds: Double, cached: Boolean)

  /** Path of the raw parquet for this seed and size, generating it if no
    * complete copy is cached. `key` hashes the generator and kernel sources,
    * so a change to either never reuses stale rows. */
  def ensure(spark: SparkSession, cacheRoot: String, key: String, seed: Long,
             rows: Int, nRepos: Int, truncFrac: Double): Raw = {
    val dir = new java.io.File(cacheRoot, s"$key-s$seed-n$rows-r$nRepos-t${(truncFrac * 1e4).toInt}")
    val stamp = new java.io.File(dir, "GENERATED")
    if (stamp.exists) {
      dir.setLastModified(System.currentTimeMillis())
      return Raw(dir.getPath, readDouble(stamp), cached = true)
    }
    evict(new java.io.File(cacheRoot), keep = 3)
    Files.deleteRecursively(dir)
    val t0 = System.nanoTime()
    val truncPerTenK = (truncFrac * 1e4).toLong
    import spark.implicits._
    spark.range(0L, rows.toLong, 1L, math.max(4, rows / 20000))
      .mapPartitions(_.map { idx =>
        val r = SourceFiles.row(seed, idx, nRepos)
        val h = SourceFiles.mix(seed * 31L + idx + 0x5bd1e995L)
        val truncated = java.lang.Long.remainderUnsigned(h, 10000L) < truncPerTenK &&
          r.content.length > 2
        val content =
          if (!truncated) r.content
          else r.content.substring(0,
            1 + java.lang.Long.remainderUnsigned(h >>> 17, (r.content.length - 1).toLong).toInt)
        (idx.longValue, r.repo, r.path, r.commit, r.lang, content, truncated)
      })
      .toDF("idx" +: userCols :+ "truncated": _*)
      .write.parquet(new java.io.File(dir, "rows").getPath)
    val secs = (System.nanoTime() - t0) / 1e9
    java.nio.file.Files.writeString(stamp.toPath, secs.toString)
    Raw(dir.getPath, secs, cached = false)
  }

  def rows(spark: SparkSession, raw: Raw): DataFrame =
    spark.read.parquet(new java.io.File(raw.dir, "rows").getPath)

  private def readDouble(f: java.io.File): Double =
    java.nio.file.Files.readString(f.toPath).trim.toDouble

  /** Keep the `keep` most recently used input sets. */
  private def evict(root: java.io.File, keep: Int): Unit =
    Option(root.listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
      .sortBy(-_.lastModified()).drop(keep).foreach(Files.deleteRecursively)
}

object Files {
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** path → size of every regular file under `dir`. */
  def sizes(dir: java.io.File): Map[String, Long] =
    if (!dir.exists) Map.empty
    else if (dir.isFile) Map(dir.getPath -> dir.length)
    else Option(dir.listFiles()).getOrElse(Array.empty).flatMap(f => sizes(f)).toMap
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
