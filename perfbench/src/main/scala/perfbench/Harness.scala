package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed public call: its name, the pass it ran in, wall time, and
  * whether it succeeded with the expected result. `traced` marks the
  * passes that ran with the listener and spans on. */
final case class OpRec(name: String, pass: Int, ms: Double, ok: Boolean,
  traced: Boolean, op: Int)

/** Timing, tracing, storage sampling and failure accounting around the
  * engine's public calls. Everything the workloads time goes through
  * [[op]]; the engine itself is not instrumented. */
final class Harness(val spark: SparkSession) {
  val sc = spark.sparkContext
  val origin: Long = System.nanoTime()
  val tracer = new Tracer(origin)
  val listener = new EngineListener(origin)
  val recs = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]
  /** (pass, traced, wall ms) per completed pass. */
  val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
  var pass = 0
  var storagePeakMb = 0.0
  var rddPeakMb = 0.0
  var tracing = false
  /** Rows the traced passes returned or wrote (the denominator of
    * scan.rows_per_result_row). */
  var tracedResultRows = 0L
  /** Untimed output checks made outside the operations, and how many
    * failed. */
  var checks = 0
  var checksFailed = 0

  def resultRows(n: Long): Unit = if (tracing) tracedResultRows += n

  /** Trace runs register the listener once; untraced passes leave their
    * jobs untagged, so the listener ignores them. */
  def attachListener(): Unit = sc.addSparkListener(listener)

  def setTracing(on: Boolean): Unit = {
    tracing = on
    tracer.enabled = on
    tracer.onEnter = if (on) (op, span) => EngineListener.tag(sc, op, span) else null
    if (!on) sc.setLocalProperty(EngineListener.OpKey, null)
  }

  /** Wait until the listener has seen the end of every tagged job. */
  def drainListener(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (!listener.idle && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
    val it = listener.finishedJobs
    tracer.addJobSpans(Iterator.continually(it.poll()).takeWhile(_ != null).toSeq)
  }

  /** One public call. `body` returns true when its result checked out;
    * an exception or a false result counts as a failed operation. */
  def op(name: String)(body: => Boolean): Boolean = {
    val t0 = System.nanoTime()
    val result = try Right(tracer.span(name, "op", newOp = true)(body))
      catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = result == Right(true)
    if (!ok) failures += failure(name, result)
    recs += OpRec(name, pass, ms, ok, tracing, tracer.currentOp)
    sampleStorage()
    ok
  }

  /** An untimed check of an output, made between passes. A false
    * result or an exception counts as one failed check. */
  def check(name: String)(body: => Boolean): Unit = {
    checks += 1
    val result = try Right(body) catch { case NonFatal(e) => Left(e) }
    if (result != Right(true)) {
      checksFailed += 1
      failures += failure(name, result)
    }
  }

  private def failure(name: String, result: Either[Throwable, Boolean]): String =
    result match {
      case Left(e) => s"$name (pass $pass): ${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
      case _ => s"$name (pass $pass): wrong result"
    }

  /** A span inside an operation: the public call that builds the frame,
    * forcing its physical plan, or the action that executes it. */
  def span[T](kind: String)(body: => T): T = tracer.span(kind, kind)(body)

  /** Plan, then run `act` on the frame, each under its own span. */
  def run[T](df: DataFrame)(act: DataFrame => T): T = {
    span("plan")(df.queryExecution.executedPlan)
    span("action")(act(df))
  }

  /** Order-independent digest of a frame's content: row count, the
    * exact sum and the xor of a 64-bit hash over every column. */
  def digest(df: DataFrame): String = {
    val hsh = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), sum(hsh.cast("decimal(38,0)")),
      bit_xor(hsh)).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(0)}:${r.get(2)}"
  }

  def timedPass(traced: Boolean)(body: => Unit): Unit = {
    setTracing(traced)
    val t0 = System.nanoTime()
    tracer.span(s"pass$pass", "pass")(body)
    val ms = (System.nanoTime() - t0) / 1e6
    passes += ((pass, traced, ms))
    setTracing(false)
  }

  /** Block-manager storage in use (broadcast and cached blocks), and the
    * part of it held by cached RDDs. */
  def storageMb: (Double, Double) = {
    val used = sc.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
    val rdd = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    (used / 1048576.0, rdd / 1048576.0)
  }

  def sampleStorage(): Unit = {
    val (u, r) = storageMb
    storagePeakMb = math.max(storagePeakMb, u)
    rddPeakMb = math.max(rddPeakMb, r)
  }

  /** Release every cached frame of the session and wait until their
    * blocks are gone: each persisted RDD is unpersisted with
    * blocking = true (graft.Caches.clear alone is asynchronous), then the
    * registry and the cache manager are emptied. */
  def release(): Unit = {
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    graft.Caches.clear(spark)
    spark.catalog.clearCache()
    val deadline = System.nanoTime() + 10000000000L
    while (storageMb._2 > 0 && System.nanoTime() < deadline) Thread.sleep(20)
  }
}

object Harness {
  /** Harrell–Davis estimate of the p-quantile: the order statistics
    * averaged with Beta(p(n+1), (1-p)(n+1)) weights. A run holds a few
    * dozen calls of a handful of operation types, and the plain sample
    * median jumps from one type to the next between runs; this estimate
    * weighs the neighbouring ranks instead. */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toArray
      val n = s.length
      val a = p * (n + 1)
      val b = (1 - p) * (n + 1)
      // the Beta CDF at i/n, by trapezoids over a grid that has i/n on it
      val steps = n * 400
      val dens = Array.tabulate(steps + 1) { k =>
        val t = k.toDouble / steps
        if (t <= 0 || t >= 1) 0.0 else math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t))
      }
      val cum = dens.sliding(2).map(w => (w(0) + w(1)) / 2).scanLeft(0.0)(_ + _).toArray
      def cdf(i: Int) = cum(i * 400) / cum.last
      (1 to n).map(i => (cdf(i) - cdf(i - 1)) * s(i - 1)).sum
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
