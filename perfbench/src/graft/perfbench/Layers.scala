package graft.perfbench

/** Per-layer metrics of a traced run, from the span tree and the samples the
  * traced rounds recorded. Medians are over traced samples unless noted. */
object Layers {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile; NaN when there is no sample. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  val maintenancePhases: Seq[String] =
    Seq("delete", "compact", "cluster", "rewrite_manifests", "merge", "expire")
  val selfLayers: Seq[String] =
    Seq("round", "xmq", "expr", "lake.scan", "lake.write", "lake.maintenance", "spark.job", "spark.stage")

  def metrics(t: Tracer, rt: Seq[(Boolean, Long, Long, Int)], scanOnly: Seq[(Long, Int)],
              qs: Seq[(Boolean, QueryRun)], cleanQs: Seq[QueryRun],
              cycles: Seq[(Boolean, CycleRun)],
              rounds: Seq[Int], appendBytes: IndexedSeq[Long], passRows: Long,
              kernel: Map[String, Double]): Seq[(String, Double, String)] = {
    val spans = t.spans.toIndexedSeq
    val kids = t.children
    def jobs(id: Int): Seq[Span] = t.jobsUnder(spans(id), kids)
    def cpuS(id: Int): Double = jobs(id).map(_.cpuNs).sum / 1e9
    def driverS(id: Int): Double =
      (spans(id).durNs - Tracer.coveredNs(spans(id), jobs(id))) / 1e9
    def stagesUnder(id: Int): Seq[Span] = jobs(id).flatMap(j => kids.getOrElse(j.id, Nil))
    val out = Seq.newBuilder[(String, Double, String)]

    // xmq: single-thread kernel
    kernel.toSeq.sortBy(_._1).foreach { case (k, v) =>
      out += ((k, v, if (k.contains("MBps")) "MB/s" else "rows/s"))
    }

    // expr: task CPU of the pass vs the bare scan vs the kernel's share
    val tracedRt = rt.filter(_._1)
    val taskCpu = median(tracedRt.map(x => cpuS(x._4)))
    val scanCpu = median(scanOnly.map(x => cpuS(x._2)))
    val kernelCpu = passRows / kernel("xmq.roundtrip_rows_per_s_1t")
    out += (("expr.task_cpu_s", taskCpu, "s"))
    out += (("expr.scan_only_cpu_s", scanCpu, "s"))
    out += (("expr.overhead_cpu_s", taskCpu - scanCpu - kernelCpu, "s"))
    out += (("expr.cores_busy", median(tracedRt.map(x => cpuS(x._4) / (x._3 / 1e9))), "cores"))

    // lake.scan: lookup planning, execution, pruning
    val tq = qs.filter(_._1).map(_._2)
    out += (("scan.plan_ms", median(tq.map(_.planNs / 1e6)), "ms"))
    out += (("scan.exec_ms", median(tq.map(_.execNs / 1e6)), "ms"))
    out += (("scan.files_read", median(tq.map(_.files.size.toDouble)), "count"))
    out += (("scan.files_pruned_frac",
      median(tq.map(q => 1.0 - q.files.size.toDouble / math.max(1, q.totalFiles))), "fraction"))
    out += (("scan.bytes_read", median(tq.map(q => jobs(q.spanId).map(_.bytesRead).sum.toDouble)), "B"))
    out += (("scan.rows_read_per_row_returned",
      tq.map(q => jobs(q.spanId).map(_.recordsRead).sum).sum.toDouble /
        math.max(1L, tq.map(_.answer.count).sum), "ratio"))
    // scan.exec_ms above runs on the head, whose pending position deletes
    // send every partition through the merge-on-read reader; each traced
    // query also ran on the delete-free snapshot under the head
    out += (("scan.clean_exec_ms", median(cleanQs.map(_.execNs / 1e6)), "ms"))

    // lake.write: the ingest appends
    val tc = cycles.filter(_._1).map(_._2)
    val appendSpans = tc.flatMap(_.appendSpans)
    out += (("write.append_s", median(tc.flatMap(_.appendNs).map(_ / 1e9)), "s"))
    out += (("write.append_jobs", median(appendSpans.map(jobs(_).size.toDouble)), "count"))
    out += (("write.append_driver_s", median(appendSpans.map(driverS)), "s"))
    out += (("write.MBps", tc.size * appendBytes.sum / 1e6 / (tc.flatMap(_.appendNs).sum / 1e9),
      "MB/s"))

    // lake.maintenance: each phase of the cycle
    maintenancePhases.foreach { p =>
      val ids = tc.map(_.phaseSpans(p))
      out += ((s"$p.wall_s", median(tc.map(_.phaseNs.toMap.apply(p) / 1e9)), "s"))
      out += ((s"$p.jobs", median(ids.map(jobs(_).size.toDouble)), "count"))
      out += ((s"$p.driver_s", median(ids.map(driverS)), "s"))
      out += ((s"$p.shuffle_bytes", median(ids.map(jobs(_).map(_.shuffleWriteBytes).sum.toDouble)), "B"))
      out += ((s"$p.bytes_written", median(tc.map(_.phaseBytes(p).toDouble)), "B"))
    }

    // spark: counters per traced round
    out += (("spark.jobs", median(rounds.map(jobs(_).size.toDouble)), "count"))
    out += (("spark.stages", median(rounds.map(stagesUnder(_).size.toDouble)), "count"))
    out += (("spark.tasks", median(rounds.map(jobs(_).map(_.tasks).sum.toDouble)), "count"))
    out += (("spark.shuffle_write_bytes",
      median(rounds.map(jobs(_).map(_.shuffleWriteBytes).sum.toDouble)), "B"))
    out += (("spark.gc_ms", median(rounds.map(jobs(_).map(_.gcMs).sum.toDouble)), "ms"))
    out += (("spark.task_cpu_s", median(rounds.map(cpuS)), "s"))

    // self time per layer: per traced round, except xmq (the kernel loops)
    val inRounds = {
      val keep = scala.collection.mutable.HashSet.empty[Int]
      def walk(id: Int): Unit = { keep += id; kids.getOrElse(id, Nil).foreach(s => walk(s.id)) }
      rounds.foreach(walk)
      keep
    }
    selfLayers.foreach { layer =>
      val ss = spans.filter(s => s.layer == layer && (layer == "xmq" || inRounds(s.id)))
      val total = ss.map(t.selfNs(_, kids)).sum / 1e9
      out += ((s"self_s.$layer", if (layer == "xmq") total else total / rounds.size, "s"))
    }

    // tracing overhead: traced vs untraced median of each operation
    def overhead(traced: Seq[Double], untraced: Seq[Double]): Double =
      median(traced) / median(untraced) - 1.0
    out += (("trace.overhead.roundtrip",
      overhead(rt.filter(_._1).map(_._3.toDouble), rt.filterNot(_._1).map(_._3.toDouble)), "fraction"))
    out += (("trace.overhead.lookup", overhead(
      qs.filter(_._1).map(q => (q._2.planNs + q._2.execNs).toDouble),
      qs.filterNot(_._1).map(q => (q._2.planNs + q._2.execNs).toDouble)), "fraction"))
    out += (("trace.overhead.maintain", overhead(
      cycles.filter(_._1).map(_._2.totalNs.toDouble),
      cycles.filterNot(_._1).map(_._2.totalNs.toDouble)), "fraction"))
    out.result()
  }
}
