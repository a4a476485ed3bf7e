package graft.perfbench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import graft.expr.XmqFunctions
import graft.lake.{GraftBucketedPartition, GraftInputPartition, GraftTable, Maintenance, MorDelete}

/** Sizes and per-round operation counts of one workload.
  *
  * Every workload runs the same three user operations, so every run reports
  * every end-to-end metric; the plan decides which operation dominates:
  *  - a round-trip verification pass over the served table S (read through
  *    `format("graft")` at its clustered, delete-free snapshot), plus
  *    `scalePairs` pairs of the same pass coalesced to 1 and to 4 tasks;
  *  - selective lookup queries over S's head, which carries pending
  *    position deletes confined to a few tail repos;
  *  - a maintenance cycle on a fresh table, in the first `cycleRounds`
  *    timed rounds: ingest as `appends` appends of `filesPerAppend` files,
  *    positional delete, compact, z-order cluster, rewrite manifests, MERGE
  *    INTO, expire snapshots. */
final case class Plan(sRows: Int, sFiles: Int, mRows: Int, appends: Int, filesPerAppend: Int,
                      setupReps: Int, rtPasses: Int, scalePairs: Int, queries: Int,
                      cycleRounds: Int) {
  def insRows: Int = math.max(2, mRows / 100)
  def totalRows: Int = sRows + mRows + insRows
  def nRepos: Int = math.max(4, math.sqrt(sRows.toDouble).toInt)

  /** The same shape at tiny sizes, for the benchmark's own check. */
  def smoke: Plan = copy(sRows = math.max(2000, sRows / 16), mRows = math.max(1000, mRows / 4),
    setupReps = 1, rtPasses = 1, scalePairs = 1, queries = 4, cycleRounds = 1)
}

object Plan {
  val workloads: Seq[String] = Seq("roundtrip", "maintain")
  /** share of rows truncated at a seeded offset, so the parse-error path runs */
  val truncFrac = 0.01
  /** length of the seeded lookup sequence */
  val querySeq = 128

  def apply(workload: String, smoke: Boolean): Plan = {
    val plan = workload match {
      case "roundtrip" => Plan(sRows = 64000, sFiles = 8, mRows = 2000, appends = 2,
        filesPerAppend = 2, setupReps = 2, rtPasses = 8, scalePairs = 2, queries = 5,
        cycleRounds = 1)
      case "maintain" => Plan(sRows = 6000, sFiles = 16, mRows = 8000, appends = 8,
        filesPerAppend = 4, setupReps = 2, rtPasses = 4, scalePairs = 2, queries = 10,
        cycleRounds = Int.MaxValue)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (smoke) plan.smoke else plan
  }
}

sealed trait Query { def pred: Column }
final case class RepoQuery(repo: String) extends Query {
  def pred: Column = col("repo") === repo
}
final case class PrefixQuery(prefix: String, lang: String) extends Query {
  def pred: Column = col("path").startsWith(prefix) && col("lang") === lang
}

/** (count, sum(length(content)), order-independent content digest). */
final case class Answer(count: Long, sumLen: Long, digest: Long)

/** The served table: its directory and the delete-free snapshot under its
  * head (the head adds pending position deletes). */
final case class Served(dir: String, cleanVersion: Long)

final case class QueryRun(q: Query, answer: Answer, planNs: Long, execNs: Long,
                          files: Seq[String], totalFiles: Int, spanId: Int)

final case class CycleRun(phaseNs: Seq[(String, Long)], newBytes: Long, liveBytes: Long,
                          phaseBytes: Map[String, Long], answer: (Long, Long),
                          appendNs: Seq[Long], appendSpans: Seq[Int], phaseSpans: Map[String, Int]) {
  def totalNs: Long = phaseNs.map(_._2).sum
}

/** The three operations, their inputs, and the oracles that check them.
  * Oracles read only the raw parquet, with plain Spark. */
final class Workload(spark: SparkSession, plan: Plan, seed: Long, raw: Inputs.Raw,
                     workDir: File, tracer: Option[Tracer]) {
  import spark.implicits._

  private def span[T](layer: String, name: String)(b: => T): T =
    tracer.fold(b)(_.span(layer, name)(b))
  private def lastSpanId: Int = tracer.filter(_.enabled).map(_.currentId).getOrElse(-1)

  private val rows = Inputs.rows(spark, raw)
  private val cols = Inputs.userCols.map(col)
  private val sRaw = rows.filter($"idx" < plan.sRows)
  private val mLo = plan.sRows.toLong
  private val mHi = mLo + plan.mRows
  private val mRaw = rows.filter($"idx" >= mLo && $"idx" < mHi)
  private val iRaw = rows.filter($"idx" >= mHi)

  /** sum of (xxhash64 of the row) >>> 24: order-independent, and a sum, so
    * duplicated rows do not cancel. 40-bit terms cannot overflow a long. */
  private val rowDigest = shiftrightunsigned(xxhash64($"repo", $"path", $"commit", $"content"), 24)
  private val keyDigest = shiftrightunsigned(xxhash64($"repo", $"path", $"commit"), 24)
  private val octets = Inputs.userCols.map(c => octet_length(col(c)).cast("long")).reduce(_ + _)

  // ---- seeded inputs of the operations, from the raw rows ----

  // one job: rows per (role, repo, lang); role 0 = S, 1 = maintenance rows
  private val repoCounts: Seq[(Int, String, String, Long)] =
    rows.filter($"idx" < mHi).groupBy(when($"idx" < mLo, 0).otherwise(1).as("role"), $"repo", $"lang")
      .count().as[(Int, String, String, Long)].collect().toSeq

  /** Repos by json-row count (desc, then name), from rank `start` on, until
    * their json rows reach `target`. The delete predicate is
    * (repo in R, lang = json). */
  private def pickRepos(role: Int, start: Int, target: Long): Seq[String] = {
    val ranked = repoCounts.filter(r => r._1 == role && r._3 == "json")
      .map(r => (r._2, r._4)).sortBy { case (repo, n) => (-n, repo) }
    val from = math.min(start, math.max(0, ranked.size - 1))
    var acc = 0L
    ranked.drop(from).takeWhile { case (_, n) => val take = acc < target; acc += n; take }.map(_._1)
  }
  private def deletePred(repos: Seq[String]): Column = col("repo").isin(repos: _*) && $"lang" === "json"
  private def deleteFilters(repos: Seq[String]): Array[Filter] =
    Array(In("repo", repos.toArray[Any]), EqualTo("lang", "json"))

  val topRepo: String = repoCounts.filter(_._1 == 0).groupMapReduce(_._2)(_._4)(_ + _)
    .toSeq.minBy { case (repo, n) => (-n, repo) }._1
  val sDelRepos: Seq[String] = pickRepos(0, 12, plan.sRows / 100)
  val mDelRepos: Seq[String] = pickRepos(1, 1, plan.mRows / 100)

  val queries: IndexedSeq[Query] = {
    val rng = new scala.util.Random(seed * 1000003L + 17L)
    val picks = (0 until Plan.querySeq).map(_ => rng.nextInt(plan.sRows).toLong)
    val byIdx = sRaw.filter($"idx".isin(picks.distinct: _*))
      .select($"idx", $"repo", $"path", $"lang").as[(Long, String, String, String)]
      .collect().map(r => r._1 -> r).toMap
    picks.zipWithIndex.map { case (idx, i) =>
      val (_, repo, path, lang) = byIdx(idx)
      if (i % 16 == 5) RepoQuery(sDelRepos(i / 16 % sDelRepos.size))
      else if (i % 4 == 3) PrefixQuery(path.substring(0, path.indexOf('_') + 1), lang)
      else RepoQuery(repo)
    }
  }

  private val mLive = mRaw.filter(!deletePred(mDelRepos))
  private val updates = mLive.filter(pmod(xxhash64($"commit"), lit(50L)) === 0)
    .withColumn("content", concat($"content", lit("\n")))
  private val inserts = iRaw.withColumn("repo",
    when($"idx" % 2 === 0, lit(topRepo)).otherwise($"repo"))
  private def mergeSource: DataFrame = updates.select(cols: _*).unionByName(inserts.select(cols: _*))
  private def sliceOf: Column = (($"idx" - mLo) * plan.appends / plan.mRows).cast("int")
  private def appendSlice(a: Int): DataFrame = mRaw.filter(sliceOf === a).select(cols: _*)

  // ---- oracles (plain Spark over the raw rows) ----

  /** Expected (count, digest) and live user bytes after one cycle, and the
    * user bytes one cycle submits (appended rows plus MERGE source rows). */
  lazy val cycleOracle: ((Long, Long), Long, Long) = {
    val keys = Seq("repo", "path", "commit")
    val expected = mLive.select(cols: _*).join(updates.select(keys.map(col): _*), keys, "left_anti")
      .withColumn("src", lit(false))
      .unionByName(mergeSource.withColumn("src", lit(true)))
    val e = expected.agg(count(lit(1)), sum(rowDigest), sum(octets), sum(when($"src", octets))).head()
    ((e.getLong(0), e.getLong(1)), e.getLong(2), appendBytes.sum + e.getLong(3))
  }

  /** User bytes of each append's slice. */
  lazy val appendBytes: IndexedSeq[Long] = {
    val m = mRaw.groupBy(sliceOf.as("slice")).agg(sum(octets)).as[(Int, Long)].collect().toMap
    (0 until plan.appends).map(m.getOrElse(_, 0L))
  }

  /** Per distinct query: the raw answer minus the pending-deleted rows
    * (what the head must return), and the raw answer itself (what the
    * delete-free snapshot must return). */
  def queryOracle(qs: Seq[Query]): (Map[Query, Answer], Map[Query, Answer]) = {
    val live = !deletePred(sDelRepos)
    val agg = Seq(count(lit(1)), coalesce(sum(length($"content")), lit(0L)),
      coalesce(sum(rowDigest), lit(0L)), count(when(live, 1)),
      coalesce(sum(when(live, length($"content"))), lit(0L)),
      coalesce(sum(when(live, rowDigest)), lit(0L)))
    val distinct = qs.distinct.zipWithIndex
    val repoQs = distinct.collect { case (RepoQuery(r), i) => (i, r) }.toDF("qid", "repo")
    val prefixQs = distinct.collect { case (PrefixQuery(p, l), i) => (i, p, l) }
      .toDF("qid", "prefix", "qlang")
    val byRepo = sRaw.join(broadcast(repoQs), "repo").groupBy("qid").agg(agg.head, agg.tail: _*)
    val byPrefix = sRaw.join(broadcast(prefixQs),
        $"path".startsWith($"prefix") && $"lang" === $"qlang")
      .groupBy("qid").agg(agg.head, agg.tail: _*)
    val got = byRepo.unionByName(byPrefix).collect().map { r =>
      r.getInt(0) -> (Answer(r.getLong(4), r.getLong(5), r.getLong(6)),
        Answer(r.getLong(1), r.getLong(2), r.getLong(3)))
    }.toMap
    val none = (Answer(0L, 0L, 0L), Answer(0L, 0L, 0L))
    val both = distinct.map { case (q, i) => q -> got.getOrElse(i, none) }
    (both.map(e => e._1 -> e._2._1).toMap, both.map(e => e._1 -> e._2._2).toMap)
  }

  /** Rows of S whose round trip breaks the sha256 law although intact, or
    * that are missing on either side; plus the expected (rows, ok count,
    * ok key digest) every timed pass must reproduce. */
  def roundtripOracle(s: Served): (Long, (Long, Long, Long)) = {
    val keys = Seq("repo", "path", "commit")
    val graft = servedRead(s).select($"repo", $"path", $"commit",
      sha2(XmqFunctions.xmq_roundtrip($"content", $"lang"), 256).as("rt_sha"),
      keyDigest.as("k"), lit(true).as("in_graft"))
    val ref = sRaw.select($"repo", $"path", $"commit", sha2($"content", 256).as("sha"),
      $"truncated", lit(true).as("in_raw"))
    val inGraft = $"in_graft".isNotNull
    val ok = inGraft && coalesce($"rt_sha" === $"sha", lit(false))
    val broken = $"in_graft".isNull || $"in_raw".isNull || (!$"truncated" && !ok)
    val e = graft.join(ref, keys, "full_outer")
      .agg(count(when(broken, 1)), count(when(inGraft, 1)), count(when(ok, 1)),
        coalesce(sum(when(ok, $"k")), lit(0L))).head()
    (e.getLong(0), (e.getLong(1), e.getLong(2), e.getLong(3)))
  }

  // ---- the served table ----

  def buildServed(i: Int): Served = {
    val dir = new File(workDir, s"served-$i")
    Files.deleteRecursively(dir)
    val t = new GraftTable(spark, dir.getPath)
    t.append(sRaw.select(cols: _*).repartition(8))
    Maintenance.cluster(t, s"served-$i", numFiles = plan.sFiles)
    t.rewriteManifests()
    val clean = t.currentVersion
    MorDelete.deleteWherePositional(t, deleteFilters(sDelRepos))
    Served(dir.getPath, clean)
  }

  private def servedRead(s: Served): DataFrame =
    spark.read.format("graft").option("snapshot", s.cleanVersion.toString).load(s.dir)

  // ---- operation 1: round-trip verification pass ----

  /** One pass; `parts` coalesces the scan to that many tasks. Returns
    * ((rows, ok rows, ok key digest), ns, span id). */
  def roundtripPass(s: Served, parts: Option[Int], name: String): ((Long, Long, Long), Long, Int) =
    span("expr", name) {
      val sid = lastSpanId
      val t0 = System.nanoTime()
      val base = servedRead(s)
      val d = parts.fold(base)(base.coalesce)
      val ok = XmqFunctions.xmq_roundtrip_ok($"content", $"lang")
      val r = d.select(ok.as("ok"), keyDigest.as("k"))
        .agg(count(lit(1)), sum(when($"ok", 1L).otherwise(0L)),
          coalesce(sum(when($"ok", $"k").otherwise(0L)), lit(0L))).head()
      ((r.getLong(0), r.getLong(1), r.getLong(2)), System.nanoTime() - t0, sid)
    }

  /** The same scan without the expression: count + sum(length(content)).
    * Returns (ns, span id). */
  def scanOnlyPass(s: Served): (Long, Int) = span("expr", "scan_only") {
    val sid = lastSpanId
    val t0 = System.nanoTime()
    servedRead(s).agg(count(lit(1)), sum(length($"content"))).head()
    (System.nanoTime() - t0, sid)
  }

  /** Intact rows of S, 64 per language, for the single-thread kernel rates. */
  def kernelSample: Seq[(String, String)] = Kernel.langs.flatMap { l =>
    sRaw.filter($"lang" === l && !$"truncated").orderBy("idx").limit(64)
      .select("lang", "content").as[(String, String)].collect().toSeq
  }

  // ---- operation 2: lookup query ----

  /** One query on S's head, or with `clean` on its delete-free snapshot. */
  def lookup(s: Served, q: Query, clean: Boolean = false): QueryRun = {
    span("lake.scan", if (clean) "lookup_clean" else "lookup") {
      val sid = lastSpanId
      val t0 = System.nanoTime()
      val reader = spark.read.format("graft")
      val df = (if (clean) reader.option("snapshot", s.cleanVersion.toString) else reader)
        .load(s.dir).filter(q.pred)
        .agg(count(lit(1)), coalesce(sum(length($"content")), lit(0L)),
          coalesce(sum(rowDigest), lit(0L)))
      val qe = df.queryExecution
      qe.executedPlan
      val t1 = System.nanoTime()
      val row = df.collect().head
      val t2 = System.nanoTime()
      val (files, total) = scanFiles(qe.executedPlan)
      QueryRun(q, Answer(row.getLong(0), row.getLong(1), row.getLong(2)), t1 - t0, t2 - t1,
        files, total, sid)
    }
  }

  /** Files the graft scan planned, and the table's live file count. */
  private def scanFiles(p: SparkPlan): (Seq[String], Int) = {
    val plan = p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val scans = plan.collect { case b: BatchScanExec => b }
    val files = scans.flatMap(_.inputPartitions).flatMap {
      case g: GraftInputPartition => Seq(g.absPath)
      case b: GraftBucketedPartition => b.absPaths
      case _ => Nil
    }
    val total = scans.headOption.map(_.scan.description()).flatMap { d =>
      "files=\\d+/(\\d+)".r.findFirstMatchIn(d).map(_.group(1).toInt)
    }.getOrElse(files.size)
    (files, total)
  }

  // ---- operation 3: maintenance cycle ----

  def cycle(i: Int): CycleRun = {
    val dir = new File(workDir, s"maintain-$i")
    Files.deleteRecursively(dir)
    val t = new GraftTable(spark, dir.getPath)
    val jobId = s"cycle-$i"
    val seen = scala.collection.mutable.HashMap.empty[String, Long]
    val phaseBytes = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val phaseSpans = scala.collection.mutable.HashMap.empty[String, Int]
    def account(name: String): Unit = {
      val now = Files.sizes(dir)
      phaseBytes(name) = now.iterator.filterNot(e => seen.contains(e._1)).map(_._2).sum
      seen ++= now
    }
    def phase(name: String)(body: => Unit): Unit = {
      val ns = span("lake.maintenance", name) {
        phaseSpans(name) = lastSpanId
        val t0 = System.nanoTime(); body; System.nanoTime() - t0
      }
      phases += name -> ns
      account(name)
    }
    val appendNs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val appendSpans = scala.collection.mutable.ArrayBuffer.empty[Int]
    (0 until plan.appends).foreach { a =>
      val input = appendSlice(a).repartition(plan.filesPerAppend)
      appendNs += span("lake.write", "append") {
        appendSpans += lastSpanId
        val t0 = System.nanoTime(); t.append(input); System.nanoTime() - t0
      }
    }
    phases += "ingest" -> appendNs.sum
    account("ingest")
    phase("delete")(MorDelete.deleteWherePositional(t, deleteFilters(mDelRepos)))
    phase("compact")(Maintenance.compact(t, jobId))
    phase("cluster")(Maintenance.cluster(t, jobId))
    phase("rewrite_manifests")(t.rewriteManifests())
    phase("merge")(Maintenance.mergeInto(t, jobId, mergeSource))
    phase("expire")(t.expireSnapshots(System.currentTimeMillis() + 1000L))
    System.err.println(s"perfbench: cycle $i phases ${phases.map(p => s"${p._1}=${p._2 / 1000000}").mkString(" ")} ms")
    val live = Files.sizes(dir).values.sum
    val r = spark.read.format("graft").load(dir.getPath).agg(count(lit(1)), sum(rowDigest)).head()
    Files.deleteRecursively(dir)
    CycleRun(phases.toSeq, seen.values.sum, live, phaseBytes.toMap,
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)),
      appendNs.toSeq, appendSpans.toSeq, phaseSpans.toMap)
  }
}
