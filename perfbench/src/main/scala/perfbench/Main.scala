package perfbench

import java.nio.file.{Files, Paths}

import graft.GraftSession
import Harness.{median, quantile}

/** Benchmark entry point, one workload per process:
  *
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  * perfbench.Main gen <seed> <dir>     # inputs only, under <dir>/inputs;
  *                                     # prints their sha256
  * perfbench.Main pin <lo> <hi> <dir>  # library_batch step digests of
  *                                     # input sets lo..hi, as JSON
  * }}}
  *
  * Set-up generates the inputs from the seed into a fresh directory and
  * loads them, three times, so that set-up time can be a median; then it
  * computes the expected outputs (untimed) and runs the workload's
  * warm-up passes once. set-up time = JVM and session
  * start + the median repetition + the warm-up. Then passes run until
  * `seconds` have passed (at least the workload's minimum). With trace 1,
  * traced passes (listener tags and spans) and untraced ones alternate,
  * so the difference is the tracing overhead; the seed's parity picks
  * which kind goes first, so neither kind always gets the pass nearest
  * the warm-up. The run record goes to `<workDir>/record.json`; run.py
  * turns it into the benchmark's result line.
  */
object Main {

  val SetupReps = 3
  val Cores = 4

  private def loadavg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq.fill(3)(Double.NaN) }

  @volatile private var calibSink = 0L

  /** Fixed single-threaded integer work; its wall time grows with CPU
    * contention, so a drift between the start and end of a run flags a
    * contended run. */
  private def calibMs(): Double = Seq.fill(3)(calibOnce()).min

  private def calibOnce(): Double = {
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 50000000) { x += (x ^ i) * 2654435761L + i; i += 1 }
    calibSink = x
    (System.nanoTime() - t0) / 1e6
  }

  private def session(workDir: String) = GraftSession.builder()
    .master(s"local[$Cores]")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$workDir/spark-local")
    .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    .getOrCreate()

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("gen")) {
      val Array(_, seedS, dir) = args
      val spark = session(dir)
      spark.sparkContext.setLogLevel("ERROR")
      val d = Gen.write(spark, seedS.toLong, s"$dir/inputs", Gen.sizes,
        graft.Tables.schemas.keySet, withChanges = true)
      println(Json.value(d))
      spark.stop()
    } else if (args.headOption.contains("pin")) pin(args)
    else run(args)

  /** One pass of `library_batch` on each input set lo..hi, in one JVM;
    * prints {input set: {step: digest}}. */
  private def pin(args: Array[String]): Unit = {
    val Array(_, lo, hi, dir) = args
    val spark = session(dir)
    spark.sparkContext.setLogLevel("ERROR")
    val h = new Harness(spark)
    val pins = (lo.toLong to hi.toLong).map { s =>
      val w = new LibraryBatch(s, s"$dir/inputs/$s")
      Gen.write(spark, s, s"$dir/inputs/$s", w.sizes, w.tables, w.withChanges)
      w.prepare(h)
      w.runPass(h)
      w.afterPass(h)
      s.toString -> Json.obj(w.digests.toSeq.map { case (k, v) => k -> Json.str(v.head) })
    }
    if (h.failures.nonEmpty) sys.error(h.failures.mkString("; "))
    println(Json.obj(pins))
    spark.stop()
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val loadPre = loadavg()
    val calibPre = calibMs()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(workDir)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val h = new Harness(spark)
    if (trace) h.attachListener()

    def make(dir: String): Workload = workload match {
      case "service_mix" => new ServiceMix(seed, dir, s"$workDir/lake")
      case "library_batch" => new LibraryBatch(Math.floorMod(seed, LibraryBatch.InputSets), dir)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    // set-up, several times, for a median: generate the inputs and load
    // them; then, on the last repetition's inputs, compute the expected
    // outputs (untimed) and warm up
    var w: Workload = null
    var inputDigests = Map.empty[String, String]
    val repS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      val dir = s"$workDir/inputs/rep$r"
      w = make(dir)
      inputDigests = Gen.write(spark, w.seed, dir, w.sizes, w.tables, w.withChanges)
      w.prepare(h)
      (System.nanoTime() - t0) / 1e9
    }
    val tExpect = System.nanoTime()
    w.expect(h)
    val expectS = (System.nanoTime() - tExpect) / 1e9
    val tWarm = System.nanoTime()
    h.pass = -1
    (0 until w.warmPasses).foreach { _ =>
      w.runPass(h)
      w.afterPass(h)
    }
    h.release()
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = sessionS + median(repS) + warmS
    val storageAtStart = h.storageMb._1
    h.storagePeakMb = 0.0
    h.rddPeakMb = 0.0
    h.pass = 0

    // measured passes
    val t0 = System.nanoTime()
    var i = 0
    // a traced run needs a traced and an untraced pass at least
    val minPasses = if (trace) math.max(2, w.minPasses) else w.minPasses
    while (i < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      // collect garbage (and with it unreferenced broadcast blocks)
      // between passes, not inside them
      System.gc()
      h.timedPass(traced = trace && (i + seed) % 2 == 0)(w.runPass(h))
      w.afterPass(h)
      h.pass += 1
      i += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    if (trace) h.drainListener()
    val loadPost = loadavg()
    val calibPost = calibMs()

    val timed = h.recs.filter(_.pass >= 0)
    def e2e(traced: Boolean): Seq[(String, Double)] = {
      val rs = timed.filter(_.traced == traced)
      val ps = h.passes.filter(_._2 == traced).map(_._3)
      val wall = ps.sum / 1000.0
      Seq("call_p50_ms" -> quantile(rs.map(_.ms).toSeq, 0.5),
        "call_p90_ms" -> quantile(rs.map(_.ms).toSeq, 0.9),
        "calls_per_s" -> rs.size / wall,
        "pass_p50_s" -> quantile(ps.toSeq, 0.5) / 1000.0)
    }
    val untraced = e2e(traced = false)
    val endToEnd = Seq("setup_s" -> setupS) ++ untraced

    val layers: Seq[(String, Double)] =
      if (!trace) Nil
      else Layers.compute(h, w, e2e(traced = true), untraced)

    val attempted = h.recs.size + h.checks
    val failed = h.recs.count(!_.ok) + h.checksFailed
    val drift = math.max(calibPre, calibPost) / math.min(calibPre, calibPost)
    // more runnable threads than cores at the start, or the fixed work
    // slowing by more than 15 % over the run
    val contended = drift > 1.15 || loadPre.headOption.exists(_ > Cores)

    val extra: Seq[(String, String)] = w match {
      case s: ServiceMix =>
        Files.write(Paths.get(s"$workDir/oracle_calls.jsonl"),
          s.oracleLines.mkString("", "\n", "\n").getBytes("UTF-8"))
        Seq("oracle_file" -> Json.str(s"$workDir/oracle_calls.jsonl"),
          "oracle_inputs" -> Json.str(s"$workDir/inputs/rep${SetupReps - 1}"),
          "lake_bytes_per_input_byte" -> Json.num(s.lake.unloadBytes.toDouble / s.lake.inputBytes),
          "unload_bytes" -> s.lake.unloadBytes.toString, "input_bytes" -> s.lake.inputBytes.toString)
      case l: LibraryBatch =>
        Seq("step_digests" -> Json.obj(l.digests.toSeq.map { case (k, v) =>
          k -> Json.value(v.distinct.toSeq) }))
    }
    if (trace) Files.write(Paths.get(s"$workDir/trace_spans.json"), h.tracer.toJson.getBytes("UTF-8"))

    def nums(kv: Seq[(String, Double)]) = Json.obj(kv.map { case (k, v) => k -> Json.num(v) })
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "input_seed" -> w.seed.toString,
      "trace" -> trace.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "failures" -> Json.value(h.failures.take(50).toSeq),
      "end_to_end" -> nums(endToEnd),
      "per_layer" -> nums(layers),
      "inputs" -> Json.obj(w.inputProps :+ ("sha256" -> Json.value(inputDigests))),
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "reps_s" -> Json.value(repS.map(_.toDouble)), "expect_s" -> Json.num(expectS),
        "warmup_s" -> Json.num(warmS),
        "storage_mb_after_release" -> Json.num(storageAtStart))),
      "run" -> Json.obj(Seq("passes" -> h.passes.size.toString,
        "pass_s" -> Json.value(h.passes.map(_._3 / 1000.0).toSeq),
        "timed_calls" -> timed.size.toString,
        "measured_s" -> Json.num(measuredS),
        "op_p50_ms" -> Json.obj(timed.groupBy(_.name).toSeq.sortBy(_._1).map { case (k, rs) =>
          k -> Json.num(quantile(rs.map(_.ms).toSeq, 0.5)) }),
        "storage_peak_mb" -> Json.num(h.storagePeakMb),
        "rdd_cache_peak_mb" -> Json.num(h.rddPeakMb))),
      "hygiene" -> Json.obj(Seq(
        "loadavg_pre" -> Json.value(loadPre), "loadavg_post" -> Json.value(loadPost),
        "calib_ms_pre" -> Json.num(calibPre), "calib_ms_post" -> Json.num(calibPost),
        "contended" -> contended.toString))
    ) ++ extra)
    Files.write(Paths.get(s"$workDir/record.json"), (record + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
