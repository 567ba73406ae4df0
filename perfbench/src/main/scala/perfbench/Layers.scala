package perfbench

import Harness.quantile

/** Per-layer metrics of a traced run, from the traced passes only. Every
  * workload reports every name; a layer the workload does not exercise
  * reads 0. Engine counters come from [[EngineListener]], module times
  * from the spans around each public call. */
object Layers {

  val LibrarySteps = Seq("dedup.minhash_pairs", "dedup.cluster_resolve",
    "text.token_hash", "text.near_dup_pairs", "text.tfidf", "pq.codebooks",
    "pq.encode", "graph.pairs", "graph.lpa", "graph.bfs", "graph.rwr",
    "graph.item_neighbors", "ml.perceptron")
  val LakeOps = Seq("copy.csv", "copy.json", "merge.apply", "merge.scd", "readback")
  val SpanKinds = Seq("pass", "op", "call", "plan", "action", "unload", "job")

  def compute(h: Harness, w: Workload, traced: Seq[(String, Double)],
    untraced: Seq[(String, Double)]): Seq[(String, Double)] = {
    val recs = h.recs.filter(r => r.pass >= 0 && r.traced).toSeq
    val nOps = math.max(1, recs.size).toDouble
    val passes = h.passes.filter(_._2).map(_._3).toSeq
    val nPass = math.max(1, passes.size).toDouble
    val passWallMs = passes.sum
    val ctr = recs.flatMap(r => Option(h.listener.ops.get(r.op)))
    def perOp(f: OpCounters => Double) = ctr.map(f).sum / nOps
    def perPass(f: OpCounters => Double) = ctr.map(f).sum / nPass
    val spans = h.tracer.spans.toSeq
    val opSpan = spans.filter(_.kind == "op").map(s => s.op -> s).toMap
    val gaps = recs.flatMap(r => opSpan.get(r.op).map { s =>
      val ivs = Option(h.listener.ops.get(r.op)).map(_.jobIntervals.toSeq).getOrElse(Nil)
      s.end - s.start - Tracer.covered(ivs, s.start, s.end)
    })
    val self = h.tracer.selfTimes
    val resultRows = h.tracedResultRows.toDouble

    def p50ms(name: String) = {
      val xs = recs.filter(_.name == name).map(_.ms)
      if (xs.isEmpty) 0.0 else quantile(xs, 0.5)
    }
    def jobsPerCall(name: String) = {
      val rs = recs.filter(_.name == name)
      if (rs.isEmpty) 0.0
      else rs.flatMap(r => Option(h.listener.ops.get(r.op))).map(_.jobs).sum.toDouble / rs.size
    }
    val unloadPerPass = spans.filter(_.kind == "unload").map(s => s.end - s.start).sum / nPass

    val engine = Seq(
      "call_p90_ms" -> traced.toMap.apply("call_p90_ms"),
      "plan.ms" -> spans.filter(_.kind == "plan").map(s => s.end - s.start).sum / nOps,
      "driver.gap_ms" -> gaps.sum / nOps,
      "sched.jobs" -> perOp(_.jobs),
      "sched.stages" -> perOp(_.stages),
      "sched.tasks" -> perOp(_.tasks),
      "sched.job_ms" -> perOp(_.jobMs),
      "sched.delay_ms" -> perOp(_.delayMs),
      "sched.jobs_per_pass" -> perPass(_.jobs),
      "exec.task_ms" -> perPass(_.taskMs),
      "exec.busy_ratio" -> ctr.map(_.taskMs).sum / math.max(1.0, passWallMs * Main.Cores),
      "exec.gc_ms" -> perPass(_.gcMs),
      "shuffle.write_bytes" -> perPass(_.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> perPass(_.shuffleRead.toDouble),
      "shuffle.fetch_wait_ms" -> perPass(_.fetchWaitMs),
      "spill.bytes" -> perPass(_.spill.toDouble),
      "scan.bytes" -> perPass(_.scanBytes.toDouble),
      "scan.rows_per_result_row" -> ctr.map(_.scanRows).sum / math.max(1.0, resultRows),
      "cache.resident_mb" -> h.rddPeakMb,
      "storage.peak_mb" -> h.storagePeakMb)
    val selfTimes = SpanKinds.map(k => s"self.${k}_ms" -> self.get(k).map(_._1).getOrElse(0.0) / nOps)
    val svc = ServiceMix.Endpoints.map(e => s"svc.$e.p50_ms" -> p50ms(e))
    val lib = LibrarySteps.flatMap(s => Seq(s"${s}_s" -> p50ms(s) / 1000.0, s"$s.jobs" -> jobsPerCall(s)))
    val lake = w match {
      case s: ServiceMix => Seq(
        "unload.ms" -> unloadPerPass,
        "unload.bytes" -> s.lake.unloadBytes.toDouble,
        "unload.files" -> s.lake.unloadFiles.toDouble,
        "lake_bytes_per_input_byte" -> s.lake.unloadBytes.toDouble / s.lake.inputBytes)
      case _ => Seq("unload.ms" -> 0.0, "unload.bytes" -> 0.0, "unload.files" -> 0.0,
        "lake_bytes_per_input_byte" -> 0.0)
    }
    val lakeOps = LakeOps.map(o => (if (o == "readback") "readback.ms" else s"${o}_ms") -> p50ms(o))
    val overhead = traced.zip(untraced).map { case ((k, a), (_, b)) => s"trace_overhead.$k" -> (a - b) }
    engine ++ selfTimes ++ svc ++ lib ++ lakeOps ++ lake ++ overhead
  }
}
