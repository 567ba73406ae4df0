package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable

import graft.Tables
import graft.api.EtlService
import org.apache.spark.sql.DataFrame

/** One endpoint call: the endpoint and its bound parameters. */
final case class Call(endpoint: String, params: Seq[(String, String)]) {
  def p(k: String): String = params.find(_._1 == k).get._2
  def key: String = endpoint + params.map { case (k, v) => s"$k=$v" }.mkString("(", ",", ")")
}

/** `service_mix`: a closed loop of one client over the service's whole
  * surface, the nine request-style `EtlService` endpoints and the lake
  * legs around them. Every pass is a block of nine calls, one per
  * endpoint in a seeded order, so each run has the same endpoint mix,
  * then one CDC cycle of [[LakeEtl]] (COPY, MERGE, SCD, UNLOAD,
  * read-back). The endpoint parameters (date ranges of 1–24 months,
  * region, segment, k, term bag, probe id) are seeded, and a quarter of
  * the calls repeat an earlier parameter set of the same endpoint. Each
  * endpoint result is collected and kept, untimed, for the DuckDB oracle
  * check. */
final class ServiceMix(val seed: Long, dir: String, lakeDir: String) extends Workload {
  import ServiceMix._

  val tables: Set[String] = Set("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
  val withChanges = true
  // after one warm-up pass the first measured pass ran up to 28 % slower
  // than the second; after two, up to 14 %
  val warmPasses = 2
  val minPasses = 2

  val lake = new LakeEtl(seed, dir, lakeDir, sizes)

  private val rnd = new java.util.SplittableRandom(seed * 1000003L + 11)
  private val history = mutable.Map.empty[String, mutable.ArrayBuffer[Call]]
  private var nCalls = 0
  private var nRepeats = 0
  private val seenKeys = mutable.Set.empty[String]
  private var selectivity = 0.0
  private var nRanged = 0
  /** First result of every distinct call, in call order. */
  val results = mutable.LinkedHashMap.empty[String, (Call, String)]

  private var svc: EtlService = _
  private var t: Map[String, DataFrame] = Map.empty

  def prepare(h: Harness): Unit = {
    svc = new EtlService(h.spark)
    t = tables.toSeq.map { n =>
      n -> (if (n == "documents" || n == "embeddings") Tables.loadSpread(h.spark, dir, n)
        else Tables.load(h.spark, dir, n))
    }.toMap
    lake.prepare(h)
  }

  override def expect(h: Harness): Unit = lake.expect(h)

  private def monthRange(): Seq[(String, String)] = {
    val from = LocalDate.of(1995, 1, 1).plusMonths(rnd.nextInt(79).toLong)
    val until = from.plusMonths(1L + rnd.nextInt(24))
    Seq("from" -> from.toString, "until" -> until.toString)
  }

  private def draw(ep: String): Call = {
    val past = history.getOrElseUpdate(ep, mutable.ArrayBuffer.empty)
    val reuse = past.nonEmpty && rnd.nextDouble() < RepeatShare
    val c = if (reuse) past(rnd.nextInt(past.size)) else Call(ep, ep match {
      case "revenueByOrderDate" =>
        monthRange() :+ ("segment" -> Gen.Segments(rnd.nextInt(Gen.Segments.size)))
      case "nationSummary" => Seq("region" -> Gen.Regions(rnd.nextInt(Gen.Regions.size)))
      case "topCustomers" | "returnedItems" =>
        monthRange() :+ ("k" -> Seq("10", "20", "50")(rnd.nextInt(3)))
      case "eventActivity" =>
        val from = LocalDate.of(2024, 1, 1 + rnd.nextInt(28))
        Seq("from" -> from.toString, "until" -> from.plusDays(1L + rnd.nextInt(7)).toString)
      case "supplierRevenue" | "partTypeShare" | "marketShare" => monthRange()
      case "searchDocuments" =>
        val terms = Iterator.continually(Gen.word(rnd.nextInt(sizes.vocab)))
          .distinct.take(3).toSeq
        Seq("terms" -> terms.mkString(" "), "probe" -> rnd.nextLong(sizes.docs).toString)
    })
    past += c
    c
  }

  /** Nine calls, one per endpoint, in a seeded order. */
  private def block(): Seq[Call] = {
    val eps = Endpoints.toArray
    for (i <- eps.indices.reverse) {
      val j = rnd.nextInt(i + 1); val x = eps(i); eps(i) = eps(j); eps(j) = x
    }
    eps.toSeq.map(draw)
  }

  def runPass(h: Harness): Unit = {
    block().foreach(call(h, _))
    lake.runPass(h)
  }

  override def afterPass(h: Harness): Unit = lake.afterPass(h)

  private def call(h: Harness, c: Call): Unit = {
    nCalls += 1
    if (!seenKeys.add(c.key)) nRepeats += 1
    if (c.params.exists(_._1 == "from")) {
      val days = java.time.temporal.ChronoUnit.DAYS.between(
        LocalDate.parse(c.p("from")), LocalDate.parse(c.p("until"))).toDouble
      selectivity += days / (if (c.endpoint == "eventActivity") 30.0 else Gen.OrderDays.toDouble)
      nRanged += 1
    }
    h.op(c.endpoint) {
      val df = h.span("call")(build(c))
      val rows = h.run(df)(_.collect())
      h.resultRows(rows.length)
      val js = rows.map(r => r.toSeq.map(Json.value).mkString("[", ",", "]")).mkString("[", ",", "]")
      results.get(c.key) match {
        case Some((_, first)) => first == js
        case None => results.put(c.key, (c, js)); true
      }
    }
  }

  private def ts(d: String): Timestamp =
    Timestamp.from(LocalDate.parse(d).atStartOfDay().toInstant(ZoneOffset.UTC))

  private def build(c: Call): DataFrame = c.endpoint match {
    case "revenueByOrderDate" =>
      svc.revenueByOrderDate(t("orders"), t("lineitem"), ts(c.p("from")), ts(c.p("until")),
        segment = Some(c.p("segment")), customer = Some(t("customer")))
    case "nationSummary" =>
      svc.nationSummary(t("customer"), t("nation"), t("region"), Some(c.p("region")))
    case "topCustomers" =>
      svc.topCustomers(t("orders"), t("customer"), ts(c.p("from")), ts(c.p("until")), c.p("k").toInt)
    case "eventActivity" =>
      svc.eventActivity(t("events"), ts(c.p("from")), ts(c.p("until")))
    case "supplierRevenue" =>
      svc.supplierRevenue(t("lineitem"), t("supplier"), t("nation"), ts(c.p("from")), ts(c.p("until")))
    case "partTypeShare" =>
      svc.partTypeShare(t("lineitem"), t("part"), ts(c.p("from")), ts(c.p("until")))
    case "returnedItems" =>
      svc.returnedItems(t("lineitem"), t("orders"), t("customer"), t("nation"),
        ts(c.p("from")), ts(c.p("until")), c.p("k").toInt)
    case "marketShare" =>
      svc.marketShare(t("lineitem"), t("orders"), t("customer"), t("nation"), t("region"),
        t("part"), ts(c.p("from")), ts(c.p("until")))
    case "searchDocuments" =>
      svc.searchDocuments(t("documents"), t("embeddings"), c.p("terms").split(" ").toSeq,
        c.p("probe").toLong, depth = SearchDepth, k = SearchK, rrfK = SearchRrfK)
  }

  def inputProps: Seq[(String, String)] = Seq(
    "calls" -> nCalls.toString,
    "repeat_share" -> Json.num(if (nCalls == 0) 0 else nRepeats.toDouble / nCalls),
    "date_range_selectivity" -> Json.num(if (nRanged == 0) 0 else selectivity / nRanged),
    "distinct_calls" -> results.size.toString) ++ lake.inputProps

  /** The distinct calls with their oracle SQL and collected rows, one
    * JSON object per line, for the DuckDB check. */
  def oracleLines: Seq[String] = results.values.toSeq.map { case (c, rows) =>
    Json.obj(Seq("key" -> Json.str(c.key), "endpoint" -> Json.str(c.endpoint),
      "sql" -> Json.str(oracleSql(c)), "rows" -> rows))
  }
}

object ServiceMix {
  val Endpoints = Seq("revenueByOrderDate", "nationSummary", "topCustomers",
    "eventActivity", "supplierRevenue", "partTypeShare", "returnedItems",
    "marketShare", "searchDocuments")
  val RepeatShare = 0.25
  // the search endpoint's depth/k/fusion constant, as in the engine's
  // own q117 endpoint key (its oracle SQL hard-codes them)
  val SearchDepth = 30
  val SearchK = 10
  val SearchRrfK = 60

  /** Each endpoint's oracle key in graft.operators.ServiceQueries.oracle
    * and the literals its SQL binds, which are replaced by the call's
    * parameters. */
  private def bindings(c: Call): (String, Seq[(String, String)]) = {
    def tsl(d: String) = s"TIMESTAMP '$d'"
    def range(from: String, until: String) =
      Seq(tsl(from) -> tsl(c.p("from")), tsl(until) -> tsl(c.p("until")))
    c.endpoint match {
      case "revenueByOrderDate" => "q84_svc_revenue" ->
        (range("1995-01-01", "1996-01-01") :+ ("'BUILDING'" -> s"'${c.p("segment")}'"))
      case "nationSummary" => "q85_svc_nation" -> Seq("'ASIA'" -> s"'${c.p("region")}'")
      case "topCustomers" => "q86_svc_topcust" ->
        (range("1995-01-01", "1996-01-01") :+ ("\"rank\" <= 25" -> s"\"rank\" <= ${c.p("k")}"))
      case "eventActivity" => "q87_svc_activity" -> range("2024-01-10", "2024-01-20")
      case "supplierRevenue" => "q88_svc_supplier" -> range("1996-01-01", "1997-01-01")
      case "partTypeShare" => "q89_svc_partshare" -> range("1995-06-01", "1996-06-01")
      case "returnedItems" => "q128_svc_returns" ->
        (range("1995-01-01", "1996-01-01") :+ ("\"rank\" <= 20" -> s"\"rank\" <= ${c.p("k")}"))
      case "marketShare" => "q127_svc_marketshare" -> range("1995-01-01", "1997-01-01")
      case "searchDocuments" =>
        val terms = c.p("terms").split(" ")
        "q117_svc_search" -> (Seq("data", "stream", "merge").zip(terms).map { case (a, b) =>
          s"x != '$a'" -> s"x != '$b'"
        } ++ Seq("doc_id != 7" -> s"doc_id != ${c.p("probe")}",
          "vec_id = 7" -> s"vec_id = ${c.p("probe")}"))
    }
  }

  /** The endpoint's own oracle SQL with the call's parameters bound.
    * Every replaced literal must occur exactly once, so a change to the
    * oracle text fails loudly instead of checking the wrong query. */
  def oracleSql(c: Call): String = {
    val (key, subs) = bindings(c)
    val sql = graft.operators.ServiceQueries.oracle(key)
    subs.foreach { case (from, _) =>
      val n = sql.sliding(from.length).count(_ == from)
      require(n == 1, s"oracle $key: literal $from occurs $n times")
    }
    // two steps, so a bound value that equals another literal is not
    // replaced again
    val marked = subs.indices.foldLeft(sql)((q, i) => q.replace(subs(i)._1, s"\u0000$i\u0000"))
    subs.indices.foldLeft(marked)((q, i) => q.replace(s"\u0000$i\u0000", subs(i)._2))
  }
}
