package graft.perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The benchmark process: one workload, one seed, `local[4]`, closed loop
  * with one client. Writes one JSON result object to `--out`.
  *
  * {{{
  *   Main --workload roundtrip|maintain --seed N --seconds S --trace 0|1
  *        --root DIR --data-key K --out FILE [--smoke]
  * }}}
  *
  * Set-up builds the served table `setupReps` times (median = setup_s), then
  * one untimed warm-up round runs. Timed rounds follow until `--seconds`
  * have passed. With `--trace 1`, rounds alternate between traced and
  * untraced; per-layer numbers come from the traced rounds, and the gap
  * between the two kinds is the tracing overhead. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: String, dataKey: String, out: String, smoke: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    Args(m("--workload"), m("--seed").toLong, m("--seconds").toDouble, m("--trace") == "1",
      m("--root"), m("--data-key"), m("--out"), a.contains("--smoke"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Plan.workloads.contains(args.workload), s"unknown workload ${args.workload}")
    val plan = Plan(args.workload, args.smoke)
    val root = new File(args.root)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(root, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val result = run(spark, plan, args, root)
      java.nio.file.Files.writeString(new File(args.out).toPath, result)
    } finally spark.stop()
  }

  import Layers.{median, percentile}

  private def peakRssMB: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def run(spark: SparkSession, plan: Plan, args: Args, root: File): String = {
    val work = new File(root, s"tables-${ProcessHandle.current().pid()}")
    Files.deleteRecursively(work)
    val tracer = if (args.trace) Some(new Tracer(spark.sparkContext)) else None
    try runIn(spark, plan, args, root, work, tracer)
    finally Files.deleteRecursively(work)
  }

  private val started = System.nanoTime()
  private def progress(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - started) / 1e9}%.2fs $what")

  private def runIn(spark: SparkSession, plan: Plan, args: Args, root: File, work: File,
                    tracer: Option[Tracer]): String = {
    progress("session ready")
    val raw = Inputs.ensure(spark, new File(root, "inputs").getPath, args.dataKey, args.seed,
      plan.totalRows, plan.nRepos, Plan.truncFrac)
    progress(s"inputs ready (cached=${raw.cached})")
    val w = new Workload(spark, plan, args.seed, raw, work, tracer)
    progress("operation inputs ready")

    // set-up: build the served table setupReps times; keep the last
    val setupNs = (0 until plan.setupReps).map { i =>
      val t0 = System.nanoTime()
      val s = w.buildServed(i)
      (System.nanoTime() - t0, s)
    }
    val served = setupNs.last._2
    setupNs.init.foreach { case (_, s) => Files.deleteRecursively(new File(s.dir)) }
    progress(s"set-up done: ${setupNs.map(_._1 / 1e9).mkString(", ")}")

    // oracles, computed before timing from the raw rows only
    val (rtBadRows, rtExpected) = w.roundtripOracle(served)
    val (expectedAnswers, expectedClean) = w.queryOracle(w.queries)
    val ((cycleCount, cycleDigest), cycleLiveUser, cycleSubmitted) = w.cycleOracle
    val appendBytes = w.appendBytes
    progress(s"oracles done: rows ${rtExpected._1}, S delete repos ${w.sDelRepos.size}")

    // samples of the timed rounds
    val rt = mutable.ArrayBuffer.empty[(Boolean, Long, Long, Int)] // traced, rows, ns, span
    val scalePairs = mutable.ArrayBuffer.empty[(Long, Long)] // (1-task ns, 4-task ns)
    val scanOnly = mutable.ArrayBuffer.empty[(Long, Int)]
    val qs = mutable.ArrayBuffer.empty[(Boolean, QueryRun)]
    val cleanQs = mutable.ArrayBuffer.empty[QueryRun]
    val cycles = mutable.ArrayBuffer.empty[(Boolean, CycleRun)]
    var rtPassesRun = 0L
    var rtPassesBad = 0L
    var queryBad = 0L
    var cycleBad = 0L
    var nextQuery = 0
    var nextCycle = 0
    val roundSpans = mutable.ArrayBuffer.empty[Int]

    // a traced run brackets its traced cycle (round 2) with untraced ones
    val cycleRounds = if (args.trace) math.max(3, plan.cycleRounds) else plan.cycleRounds
    def checkPass(r: (Long, Long, Long)): Unit = {
      rtPassesRun += 1
      if (r != rtExpected) rtPassesBad += 1
    }
    // round 0 is the untimed warm-up: the set-up builds and the oracle pass
    // already ran the write and kernel paths, so it only adds a query
    def round(r: Int, traced: Boolean): Unit = {
      val record = r > 0
      tracer.foreach(_.enabled = traced)
      def body(): Unit = {
        (0 until (if (record) plan.rtPasses else 0)).foreach { _ =>
          val (res, ns, sid) = w.roundtripPass(served, None, "roundtrip")
          checkPass(res)
          rt += ((traced, res._1, ns, sid))
        }
        (0 until (if (traced) plan.scalePairs else 0)).foreach { k =>
          // alternate which level goes first, so drift hits both alike
          val ns = (if ((r + k) % 2 == 0) Seq(1, 4) else Seq(4, 1)).map { p =>
            val (res, ns, _) = w.roundtripPass(served, Some(p), s"roundtrip_${p}p")
            checkPass(res)
            p -> ns
          }.toMap
          scalePairs += ((ns(1), ns(4)))
        }
        if (traced && record) scanOnly += w.scanOnlyPass(served)
        (0 until (if (record) plan.queries else 1)).foreach { _ =>
          val q = w.queries(nextQuery % w.queries.size)
          nextQuery += 1
          val run = w.lookup(served, q)
          if (run.answer != expectedAnswers(q)) queryBad += 1
          if (record) qs += ((traced, run))
          if (traced && record) {
            // the same query on the delete-free snapshot: the reader
            // without merge-on-read, for the per-layer comparison
            val clean = w.lookup(served, q, clean = true)
            nextQuery += 1
            if (clean.answer != expectedClean(q)) queryBad += 1
            cleanQs += clean
          }
        }
        if (record && r <= cycleRounds) {
          val c = w.cycle(nextCycle)
          nextCycle += 1
          if (c.answer != (cycleCount, cycleDigest)) cycleBad += 1
          cycles += ((traced, c))
        }
      }
      if (traced) tracer.get.span("round", s"round-$r") {
        roundSpans += tracer.get.currentId
        body()
      } else body()
      progress(s"round $r done")
    }

    round(0, traced = false)
    // a traced run brackets its traced rounds with untraced ones, so the
    // overhead comparison is not skewed by the rounds warming up
    val minRounds = if (args.trace) 3 else 2
    val t0 = System.nanoTime()
    var r = 1
    while (r <= minRounds || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      round(r, traced = args.trace && r % 2 == 0)
      r += 1
    }
    tracer.foreach { t => t.enabled = false; t.drain() }

    // correctness: an operation is a row of a pass, a query, or a phase of
    // a cycle; each kind's failure share is kept apart, so a few failed
    // queries or phases are not drowned by the many rows of the passes
    val phasesPerCycle = 7L
    val kinds = Seq( // (attempted, failed) per kind
      (rtPassesRun * rtExpected._1,
        math.min(rtPassesRun * rtExpected._1, rtPassesRun * rtBadRows + rtPassesBad * rtExpected._1)),
      (nextQuery.toLong, queryBad),
      (nextCycle * phasesPerCycle, cycleBad * phasesPerCycle))
    val attempted = kinds.map(_._1).sum
    val failed = kinds.map(_._2).sum
    val okFrac = kinds.filter(_._1 > 0).map(k => 1.0 - k._2.toDouble / k._1).min
    val problems = Seq(
      s"roundtrip: $rtBadRows intact rows break the sha256 law; $rtPassesBad/$rtPassesRun passes disagree",
      s"lookup: $queryBad/$nextQuery answers differ from the raw-data oracle",
      s"maintain: $cycleBad/$nextCycle cycles end in a different row set")
    if (failed > 0) problems.foreach(p => System.err.println(s"perfbench: $p"))

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) {
        val rowsPerS = rt.filterNot(_._1).map(x => x._2 / (x._3 / 1e9)).toSeq
        val lat = qs.filterNot(_._1).map(q => (q._2.planNs + q._2.execNs) / 1e6).toSeq
        val cyc = cycles.filterNot(_._1).map(_._2).toSeq
        Seq(
          ("setup_s", median(setupNs.map(_._1 / 1e9)), "s"),
          ("ok_frac", okFrac, "fraction"),
          ("peak_rss_MB", peakRssMB, "MB"),
          ("roundtrip_rows_per_s", median(rowsPerS), "rows/s"),
          ("maintain_s", median(cyc.map(_.totalNs / 1e9)), "s"),
          ("write_amp", median(cyc.map(_.newBytes.toDouble / cycleSubmitted)), "ratio"),
          ("space_amp", median(cyc.map(_.liveBytes.toDouble / cycleLiveUser)), "ratio"),
          ("lookup_p50_ms", percentile(lat, 0.5), "ms"),
          ("lookup_p90_ms", percentile(lat, 0.9), "ms"))
      } else {
        val t = tracer.get
        t.enabled = true
        val kernel = Kernel.measure(w.kernelSample, 250L * 1000000L, tracer)
        t.enabled = false
        t.drain()
        Layers.metrics(t, rt.toSeq, scanOnly.toSeq, qs.toSeq, cleanQs.toSeq, cycles.toSeq,
          roundSpans.toSeq,
          appendBytes, rtExpected._1, kernel) ++ Seq(
          // per pair R(4)/(4 R(1)) = t1 / (4 t4): both passes read the same
          // rows. Per layer: it does not repeat within a tenth across runs
          ("scaling_eff_1to4", median(scalePairs.map(p => p._1 / (4.0 * p._2)).toSeq), "ratio"),
          ("inputs.gen_s", raw.firstGenSeconds, "s"))
      }
    tracer.foreach { t =>
      val dir = new File(root, "traces")
      dir.mkdirs()
      java.nio.file.Files.writeString(
        new File(dir, s"${args.workload}-s${args.seed}.json").toPath, t.toJson)
    }
    val body = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $body}"""
  }
}
