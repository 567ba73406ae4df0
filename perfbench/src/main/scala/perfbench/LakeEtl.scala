package perfbench

import scala.jdk.CollectionConverters._

import graft.api.EtlService
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The lake leg of `service_mix`: one cycle per pass over a seeded CDC
  * changeset on `orders` (updates, deletes and inserts; see
  * [[Gen.changes]]), which generation writes, untimed, as CSV and JSON
  * lines. Each cycle is five calls:
  * COPY of each file through `EtlService.load`, `applyChanges` then a
  * year-partitioned `export` (UNLOAD), `scdHistory` then `export`, and a
  * partition-pruned read-back of one year.
  *
  * The expected exports come from [[LakeEtl.oracle]], which applies the
  * generator's changeset and builds its SCD history with plain Scala
  * collections, not with the engine. The read-back leg must equal that
  * year of the expected snapshot, and after every cycle, untimed, both
  * exports are read back whole and must equal the expected snapshot and
  * history. */
final class LakeEtl(seed: Long, dir: String, outDir: String, sizes: Gen.Sizes) {

  private val attrs = Gen.ChangeAttrs
  private val ordersSchema = graft.Tables.schemas("orders")
  private val changeSchema = StructType(
    StructField("o_orderkey", LongType) +: StructField("op", StringType) +:
      ordersSchema.fields.filter(f => attrs.contains(f.name)).toSeq :+
      StructField("change_ts", TimestampType) :+ StructField("seq", LongType))
  private val appliedSchema = StructType(
    StructField("o_orderkey", LongType) +:
      ordersSchema.fields.filter(f => attrs.contains(f.name)).toSeq :+
      StructField("changed", IntegerType) :+ StructField("yr", IntegerType))
  private val scdSchema = StructType(Seq(StructField("o_orderkey", LongType),
    StructField("version", IntegerType), StructField("valid_from", TimestampNTZType),
    StructField("valid_to", TimestampNTZType), StructField("is_current", IntegerType)) ++
    ordersSchema.fields.filter(f => attrs.contains(f.name)))
  // a full year of order dates (2001 has seven months)
  private val readYear = 1995 + new java.util.SplittableRandom(seed * 31L + 5).nextInt(6)
  private val applied = s"$outDir/applied"
  private val scd = s"$outDir/scd"

  private var svc: EtlService = _
  private var base: DataFrame = _
  private var nCsv = 0L
  private var nJson = 0L
  private var expected = ""
  private var expectedApplied = ""
  private var expectedScd = ""
  private var mix: Seq[(String, String)] = Nil
  var unloadBytes = 0L
  var unloadFiles = 0
  var inputBytes = 0L

  private def withYear(df: DataFrame): DataFrame = df.withColumn("yr", year(col("o_orderdate")))

  def prepare(h: Harness): Unit = {
    svc = new EtlService(h.spark)
    base = svc.load("orders", s"$dir/orders.parquet", ordersSchema)
    inputBytes = Seq("orders.parquet", "changes_csv", "changes_json")
      .map(f => Gen.bytesUnder(s"$dir/$f")).sum
  }

  /** The expected outputs, from the generator rather than from the files;
    * computed once per run, outside the timed set-up. */
  def expect(h: Harness): Unit = {
    val ch = Gen.changes(h.spark, seed, sizes)
    val even = col("o_orderkey") % 2 === 0
    val counts = ch.groupBy(col("op"), col("o_orderkey") < sizes.orders, even)
      .count().collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2)) -> r.getLong(3)).toMap
    def n(f: ((String, Boolean, Boolean)) => Boolean) = counts.filter(kv => f(kv._1)).values.sum
    nCsv = n(_._3); nJson = n(!_._3)
    val total = sizes.orders.toDouble
    mix = Seq("update_share" -> n(k => k._1 == "U" && k._2) / total,
      "delete_share" -> n(_._1 == "D") / total,
      "insert_share" -> n(k => !k._2) / total).map { case (k, v) => k -> Json.num(v) }
    val (snap, hist) = LakeEtl.oracle(
      base.select(appliedSchema.fieldNames.init.init.map(col): _*).collect().toSeq,
      ch.select(changeSchema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
        .collect().toSeq, attrs.size, LakeEtl.BaseTs)
    val snapDf = withYear(h.spark.createDataFrame(snap.asJava, StructType(appliedSchema.init)))
    expectedApplied = h.digest(snapDf)
    expected = h.digest(snapDf.filter(col("yr") === readYear))
    expectedScd = h.digest(h.spark.createDataFrame(hist.asJava,
      StructType(scdSchema.map(f => if (f.dataType == TimestampNTZType)
        f.copy(dataType = TimestampType) else f)))
      .select(scdSchema.map(f => col(f.name).cast(f.dataType)): _*))
  }

  def runPass(h: Harness): Unit = {
    var csv: DataFrame = null
    var json: DataFrame = null
    h.op("copy.csv") {
      csv = h.span("call")(svc.load("changes_csv", s"$dir/changes_csv", changeSchema, "csv"))
      val n = h.run(csv)(_.count())
      h.resultRows(n)
      n == nCsv
    }
    h.op("copy.json") {
      json = h.span("call")(svc.load("changes_json", s"$dir/changes_json", changeSchema, "json"))
      val n = h.run(json)(_.count())
      h.resultRows(n)
      n == nJson
    }
    // the merge legs succeed when they write; their exports are checked
    // in afterPass
    h.op("merge.apply") {
      val m = h.span("call")(withYear(
        svc.applyChanges(base, csv.unionByName(json), "o_orderkey", attrs)))
      h.span("plan")(m.queryExecution.executedPlan)
      h.span("unload")(svc.export(m, applied, Seq("yr")))
      true
    }
    h.op("merge.scd") {
      val feed = base.select(col("o_orderkey") +: attrs.map(col) :+
          lit(LakeEtl.BaseTs).as("change_ts") :+
          lit(0L).as("seq"): _*)
        .unionByName(csv.unionByName(json).filter(col("op") === "U").drop("op"))
      val s = h.span("call")(svc.scdHistory(feed, "o_orderkey", "change_ts", "seq", attrs))
      h.span("plan")(s.queryExecution.executedPlan)
      h.span("unload")(svc.export(s, scd))
      true
    }
    h.op("readback") {
      val rb = h.span("call")(svc.load("applied", applied, appliedSchema)
        .filter(col("yr") === readYear))
      val d = h.run(rb)(h.digest)
      h.resultRows(d.takeWhile(_ != ':').toLong)
      d == expected
    }
    val files = Seq(applied, scd).flatMap(p => Gen.dataFiles(java.nio.file.Paths.get(p)))
    unloadFiles = files.size
    unloadBytes = files.map(java.nio.file.Files.size).sum
  }

  def afterPass(h: Harness): Unit = {
    h.check("unload.applied")(
      h.digest(h.spark.read.schema(appliedSchema).parquet(applied)) == expectedApplied)
    h.check("unload.scd")(h.digest(h.spark.read.schema(scdSchema).parquet(scd)) == expectedScd)
  }

  def inputProps: Seq[(String, String)] = mix ++ Seq(
    "changes_csv_rows" -> nCsv.toString, "changes_json_rows" -> nJson.toString,
    "orders" -> sizes.orders.toString, "readback_year" -> readYear.toString)
}

object LakeEtl {
  /** The time stamp of the snapshot's rows in the SCD feed. */
  val BaseTs: java.sql.Timestamp = java.sql.Timestamp.valueOf("2001-12-31 00:00:00")

  /** The expected exports, without the engine's operators. `base` rows
    * are (key, attributes...); `changes` rows are (key, op, attributes...,
    * change_ts, seq), one per changed key. Returns
    *  - the snapshot with the changes applied: (key, attributes...,
    *    changed), U rows replacing or inserting, D rows deleting;
    *  - the SCD type-2 history of the feed "snapshot at `baseTs`, then
    *    the U rows": (key, version, valid_from, valid_to, is_current,
    *    attributes...), versions ordered by (time stamp, seq). */
  def oracle(base: Seq[Row], changes: Seq[Row], nAttrs: Int,
    baseTs: java.sql.Timestamp): (Seq[Row], Seq[Row]) = {
    def attrsOf(r: Row, from: Int) = (from until from + nAttrs).map(r.get)
    val before = base.map(r => r.getLong(0) -> attrsOf(r, 1)).toMap
    val change = changes.map(r => r.getLong(0) -> r).toMap
    val keys = (before.keySet ++ change.keySet).toSeq.sorted
    val snapshot = keys.flatMap { k =>
      change.get(k) match {
        case Some(c) if c.getString(1) == "D" => None
        case Some(c) => Some(Row.fromSeq((k +: attrsOf(c, 2)) :+ 1))
        case None => Some(Row.fromSeq((k +: before(k)) :+ 0))
      }
    }
    // feed entries: (time stamp, seq, attributes)
    val feed = keys.map { k =>
      val first = before.get(k).map(a => (baseTs, 0L, a)).toSeq
      val upd = change.get(k).filter(_.getString(1) == "U")
        .map(c => (c.getTimestamp(2 + nAttrs), c.getLong(3 + nAttrs), attrsOf(c, 2))).toSeq
      k -> (first ++ upd).sortBy(e => (e._1.getTime, e._1.getNanos, e._2))
    }
    val history = feed.flatMap { case (k, vs) =>
      vs.zipWithIndex.map { case ((ts, _, a), i) =>
        val next = if (i + 1 < vs.size) vs(i + 1)._1 else null
        Row.fromSeq(Seq(k, i + 1, ts, next, if (next == null) 1 else 0) ++ a)
      }
    }
    (snapshot, history)
  }
}
