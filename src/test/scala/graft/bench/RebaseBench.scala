package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Quantifies what validated rebase saves when maintenance races ingest.
  *
  * Before rewrite commits rebased (Commit.Rewrite), a compaction planned
  * against snapshot S threw on ANY interleaved commit — the caller's only recourse was a full re-plan:
  * read the small files again, rewrite them again, try again (and lose
  * again if ingest keeps coming). With validated rebase the lost race costs
  * one chain walk over the interleaved snapshots' shard lists (driver-side
  * metadata reads) plus, for remove/posdel shards, one tiny overlap job.
  *
  * This bench builds a table of `files` small files, runs the expensive
  * part of a compaction ONCE (read + re-pack + write), interleaves an
  * append, and measures the rebased commit — then re-runs the rewrite work
  * to show what a re-plan would have paid. Output: one JSON line with
  * rewrite_secs (the work a conflict would repeat), rebase_commit_secs
  * (what the rebase actually costs), and the ratio.
  *
  * Test/runMain graft.bench.RebaseBench [rows] [files] [interleaves]
  */
object RebaseBench {

  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toInt else 400000
    val files = if (args.length > 1) args(1).toInt else 64
    val interleaves = if (args.length > 2) args(2).toInt else 4

    val spark = SparkSession.builder().master("local[32]").appName("rebasebench")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    import spark.implicits._

    val wh = java.nio.file.Files.createTempDirectory("graft-rebasebench").toString
    val t = new graft.lake.GraftTable(spark, s"$wh/t")
    val base = graft.synth.SourceFiles.generate(rows, seed = 1L).toDF()
    t.append(base.repartition(files))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // the expensive half of a compaction: read every small file, re-pack,
    // write — this is what a conflict-and-re-plan repeats in full
    val basis = t.currentSnapshot
    val paths = t.manifest(basis.get).select("file_path").as[String].collect().toSeq
    val (added, rewriteSecs) = timed {
      t.writeDataFiles(
        t.readFiles(paths).repartitionByRange(4, col("z")).sortWithinPartitions("z"),
        "compact")
    }

    // ingest lands while the rewrite runs
    (0 until interleaves).foreach { i =>
      t.append(graft.synth.SourceFiles.generate(2000, seed = 100L + i).toDF()
        .repartition(2))
    }

    // the rebased commit: chain walk over `interleaves` snapshots + claim
    val (snap, rebaseSecs) = timed {
      t.commit(graft.lake.Commit("compact", graft.lake.Commit.Rewrite(basis),
        added = added, removed = paths.toSet, removedRecords = basis.get.recordCount))
    }
    require(snap.parent - basis.get.version == interleaves.toLong,
      s"expected a rebase across $interleaves commits")
    require(t.scan().count() == rows.toLong + interleaves * 2000L)

    println(s"""{"metric":"rebase_bench","rows":$rows,"files":$files,""" +
      s""""interleaves":$interleaves,""" +
      f""""rewrite_secs":$rewriteSecs%.3f,"rebase_commit_secs":$rebaseSecs%.3f,""" +
      f""""replan_over_rebase":${rewriteSecs / rebaseSecs}%.1f}""")
    spark.stop()
  }
}
