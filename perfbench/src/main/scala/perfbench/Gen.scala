package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of
  * (seed, row key, salt) through `xxhash64`, so the same seed gives the
  * same rows on any partition count, and each table is written as one
  * file so the same seed gives the same bytes ([[digest]] checks it).
  *
  * The tables follow the engine's star schema plus the documents and
  * embeddings corpora (graft.Tables.schemas); the CDC changeset for the
  * lake leg of `service_mix` is written as CSV (one half of the keys) and
  * JSON lines (the other half).
  */
object Gen {

  /** Row counts. `orders` drives lineitem (1..7 lines per order, mean 4),
    * and the documents and embeddings corpora share one id space so the
    * search endpoint's probe ids exist in both. */
  final case class Sizes(customers: Long, suppliers: Long, parts: Long,
    orders: Long, events: Long, users: Long, docs: Long, vocab: Int)

  val sizes: Sizes = Sizes(customers = 1500, suppliers = 100, parts = 10000,
    orders = 6000, events = 20000, users = 300, docs = 1200, vocab = 400)

  /** CDC mix over the `orders` keys: shares of updated, deleted and
    * inserted (new key) rows. */
  val UpdateShare = 0.10
  val DeleteShare = 0.02
  val InsertShare = 0.05

  /** Order dates span [1995-01-01, 2001-08-01), midnight-aligned. */
  val OrderDays = 2404
  val EventMonthStart = "2024-01-01T00:00:00Z"

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
    "STANDARD")
  val Langs = Seq("en" -> 0.44, "zh" -> 0.15, "es" -> 0.145, "de" -> 0.14,
    "fr" -> 0.125)

  def word(i: Int): String = f"w$i%04d"

  final class Hasher(seed: Long) {
    /** Non-negative 63-bit hash of the seed and the given columns. */
    def h(cols: Column*): Column =
      shiftrightunsigned(xxhash64((lit(seed) +: cols): _*), 1)
    def u01(cols: Column*): Column =
      (h(cols: _*) % 1000000L).cast("double") / 1e6
    def pick(values: Seq[String], cols: Column*): Column =
      element_at(array(values.map(lit): _*),
        (h(cols: _*) % values.size).cast("int") + 1)
    def pickW(values: Seq[(String, Double)], u: Column): Column = {
      val cum = values.scanLeft(0.0)(_ + _._2).tail
      values.zip(cum).init.foldRight(lit(values.last._1): Column) {
        case (((v, _), c), acc) => when(u < c, v).otherwise(acc)
      }
    }
  }

  def tables(spark: SparkSession, seed: Long, sz: Sizes = sizes)
  : Seq[(String, DataFrame)] = {
    import spark.implicits._
    val g = new Hasher(seed)
    import g._
    val id = col("id")

    val region = Regions.zipWithIndex.map { case (n, i) => (i, n) }
      .toDF("r_regionkey", "r_name")
    val nation = (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")

    val customer = spark.range(sz.customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      (h(id, lit("cn")) % 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u01(id, lit("cb")) * 10999.98, 2).as("c_acctbal"),
      pick(Segments, id, lit("cs")).as("c_mktsegment"))

    val supplier = spark.range(sz.suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      (h(id, lit("sn")) % 25).cast("int").as("s_nationkey"),
      round(u01(id, lit("sb")) * 9999.99, 2).as("s_acctbal"))

    val part = spark.range(sz.parts).select(id.as("p_partkey"),
      concat(pick(Seq("small", "large", "red", "blue", "hot", "cold"),
        id, lit("pa")), lit(" "),
        pick(Seq("ring", "widget", "bolt", "gear", "valve"), id, lit("pn")))
        .as("p_name"),
      concat(lit("Brand#"), (h(id, lit("pb")) % 5 + 1).cast("string"))
        .as("p_brand"),
      pick(PartTypes, id, lit("pt")).as("p_type"),
      (h(id, lit("ps")) % 50 + 1).cast("int").as("p_size"),
      round(lit(900.0) + id.cast("double") / 10.0, 2).as("p_retailprice"))

    val orders = ordersFrame(spark, g, 0L, sz.orders, sz, "o")

    // 1..7 lines per order; parts drawn from a per-customer-segment
    // slice of the catalogue so the co-purchase graph has communities
    val ok = col("o_orderkey")
    val ln = col("l_linenumber")
    val lk = (h(ok, lit("seg")) % 8 * (sz.parts / 8) +
      h(ok, ln, lit("lp")) % (sz.parts / 8))
    val qty = (h(ok, ln, lit("lq")) % 50 + 1).cast("double")
    val lineitem = orders
      .select(ok, col("o_orderdate"),
        explode(sequence(lit(1), (h(ok, lit("nl")) % 7 + 1).cast("int")))
          .as("l_linenumber"))
      .select(ok.as("l_orderkey"), lk.as("l_partkey"),
        (h(ok, ln, lit("ls")) % sz.suppliers).as("l_suppkey"), ln,
        qty.as("l_quantity"),
        round(qty * (lit(900.0) + lk.cast("double") / 10.0), 2)
          .as("l_extendedprice"),
        ((h(ok, ln, lit("ld")) % 11).cast("double") / 100.0).as("l_discount"),
        ((h(ok, ln, lit("lt")) % 9).cast("double") / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), ok, ln, lit("lr")).as("l_returnflag"),
        pick(Seq("F", "O"), ok, ln, lit("lst")).as("l_linestatus"),
        date_add(col("o_orderdate").cast("date"),
          (h(ok, ln, lit("lsd")) % 95 + 1).cast("int")).cast("timestamp")
          .as("l_shipdate"))

    val spanUs = 30L * 24 * 3600 * 1000000
    val stepUs = spanUs / sz.events
    val t0Us = java.time.Instant.parse(EventMonthStart).getEpochSecond * 1000000L
    val events = spark.range(sz.events).select(id.as("event_id"),
      timestamp_micros(lit(t0Us) + id * stepUs + h(id, lit("ej")) % stepUs)
        .as("ts"),
      (h(id, lit("eu")) % sz.users).as("user_id"),
      pickW(Seq("view" -> 0.35, "click" -> 0.30, "purchase" -> 0.15,
        "signup" -> 0.10, "error" -> 0.10), u01(id, lit("et"))).as("event_type"),
      round(lit(0.01) + u01(id, lit("ev")) * 490.0, 2).as("value"),
      format_string("{\"k\": %d}", h(id, lit("ek")) % 100).as("props"))

    // near-duplicate clusters of three: members share the cluster's base
    // draw and mutate about a tenth of their tokens
    val did = col("doc_id")
    val cid = (did / 3).cast("long")
    val nTok = (h(cid, lit("nt")) % 60 + 15).cast("int")
    def tok(j: Column): Column = {
      val t = when(h(did, j, lit("mut")) % 10 === 0,
        h(did, j, lit("alt")) % sz.vocab).otherwise(h(cid, j, lit("tok")) % sz.vocab)
      concat(lit("w"), lpad(t.cast("string"), 4, "0"))
    }
    val documents = spark.range(sz.docs)
      .select(id.as("doc_id"), pickW(Langs, u01(id, lit("dl"))).as("lang"),
        concat(lit("src"), (h(id, lit("ds")) % 20).cast("string")).as("source"))
      .withColumn("text",
        array_join(transform(sequence(lit(0), nTok - 1), j => tok(j)), " "))
      .select(did, col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))

    // 64-dim unit vectors around ten seeded centres
    def signed(a: Column, b: Column, salt: String): Column =
      ((h(a, b, lit(salt)) % 2001).cast("double") - 1000.0) / 1000.0
    val embeddings = spark.range(sz.docs)
      .select(id, (h(id, lit("el")) % 10).cast("int").as("label"))
      .withColumn("raw", transform(sequence(lit(0), lit(63)),
        d => signed(col("label").cast("long"), d, "ec") + signed(id, d, "en") * 0.35))
      .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
      .select(id.as("vec_id"),
        transform(col("raw"), x => (x / col("nrm")).cast("float")).as("embedding"),
        col("label"))

    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  private def ordersFrame(spark: SparkSession, g: Hasher, from: Long,
    until: Long, sz: Sizes, salt: String): DataFrame = {
    import g._
    val id = col("id")
    spark.range(from, until).select(id.as("o_orderkey"),
      (h(id, lit(salt + "c")) % sz.customers).as("o_custkey"),
      pickW(Seq("F" -> 0.48, "O" -> 0.48, "P" -> 0.04), u01(id, lit(salt + "s")))
        .as("o_orderstatus"),
      round(lit(1000.0) + u01(id, lit(salt + "p")) * 499000.0, 2).as("o_totalprice"),
      date_add(lit(java.sql.Date.valueOf("1995-01-01")),
        (h(id, lit(salt + "d")) % OrderDays).cast("int")).cast("timestamp")
        .as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        id, lit(salt + "r")).as("o_orderpriority"))
  }

  /** The changeset columns after the key: the op and the orders
    * attributes, then the change time and sequence number. */
  val ChangeAttrs = Seq("o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")

  /** CDC changeset over `orders`: updates (op U on an existing key, new
    * status/price/priority), deletes (op D, attributes null) and inserts
    * (op U on a new key). One row per changed key. */
  def changes(spark: SparkSession, seed: Long, sz: Sizes = sizes): DataFrame = {
    val g = new Hasher(seed)
    import g._
    val ok = col("o_orderkey")
    val u = u01(ok, lit("cdc"))
    val base = ordersFrame(spark, g, 0L, sz.orders, sz, "o")
      .withColumn("op", when(u < UpdateShare, "U")
        .when(u < UpdateShare + DeleteShare, "D"))
      .filter(col("op").isNotNull)
    val upd = ordersFrame(spark, g, 0L, sz.orders, sz, "u")
      .select(ok, col("o_orderstatus").as("n_status"),
        col("o_totalprice").as("n_price"), col("o_orderpriority").as("n_prio"))
    val existing = base.join(upd, Seq("o_orderkey"))
      .select(ok, col("op"),
        when(col("op") === "U", col("o_custkey")).as("o_custkey"),
        when(col("op") === "U", col("n_status")).as("o_orderstatus"),
        when(col("op") === "U", col("n_price")).as("o_totalprice"),
        when(col("op") === "U", col("o_orderdate")).as("o_orderdate"),
        when(col("op") === "U", col("n_prio")).as("o_orderpriority"))
    val nIns = math.round(sz.orders * InsertShare)
    val inserts = ordersFrame(spark, g, sz.orders, sz.orders + nIns, sz, "o")
      .select(ok +: lit("U").as("op") +: ChangeAttrs.map(col): _*)
    existing.unionByName(inserts)
      .withColumn("change_ts", timestamp_seconds(
        lit(java.time.Instant.parse("2002-01-01T00:00:00Z").getEpochSecond) +
          h(ok, lit("cts")) % (86400L * 30)))
      .withColumn("seq", ok + 1)
  }

  /** Write every input of a workload under `dir`, one file per table.
    * Returns the sha256 of each table's data bytes. */
  def write(spark: SparkSession, seed: Long, dir: String, sz: Sizes,
    names: Set[String], withChanges: Boolean): Map[String, String] = {
    tables(spark, seed, sz).filter(t => names(t._1)).foreach { case (n, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    if (withChanges) {
      val ch = changes(spark, seed, sz).repartition(1)
        .sortWithinPartitions("o_orderkey")
      val even = col("o_orderkey") % 2 === 0
      ch.filter(even).write.mode("overwrite").option("header", "true")
        .csv(s"$dir/changes_csv")
      ch.filter(!even).write.mode("overwrite").json(s"$dir/changes_json")
    }
    digest(dir)
  }

  /** sha256 over the data files of each input (Spark's bookkeeping
    * files and random part-file names excluded). A parquet file's footer
    * is hashed in a canonical rendering: parquet-mr writes each column's
    * encoding list in hash-set order, which differs between JVM processes
    * while every data byte stays the same. */
  def digest(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    Files.list(root).toArray.map(_.asInstanceOf[Path]).sorted.map { t =>
      val md = MessageDigest.getInstance("SHA-256")
      dataFiles(t).foreach { f =>
        val bytes = Files.readAllBytes(f)
        if (!f.toString.endsWith(".parquet")) md.update(bytes)
        else {
          val n = bytes.length
          val footerLen = java.nio.ByteBuffer.wrap(bytes, n - 8, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
          md.update(bytes, 0, n - 8 - footerLen)
          md.update(canonicalFooter(f).getBytes("UTF-8"))
        }
      }
      t.getFileName.toString -> md.digest().map("%02x".format(_)).mkString
    }.toMap
  }

  private def canonicalFooter(f: Path): String = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toUri), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val m = r.getFooter
      val fm = m.getFileMetaData
      (Seq(fm.getSchema.toString, fm.getCreatedBy) ++
        fm.getKeyValueMetaData.asScala.toSeq.sorted.map { case (k, v) => s"$k=$v" } ++
        m.getBlocks.asScala.flatMap { b =>
          s"rows=${b.getRowCount} bytes=${b.getTotalByteSize}" +: b.getColumns.asScala.map { c =>
            Seq(c.getPath, c.getCodec, c.getEncodings.asScala.map(_.name).toSeq.sorted,
              c.getFirstDataPageOffset, c.getDictionaryPageOffset, c.getValueCount,
              c.getTotalSize, c.getTotalUncompressedSize, c.getStatistics).mkString(" ")
          }
        }).mkString("\n")
    } finally r.close()
  }

  def dataFiles(t: Path): Seq[Path] =
    if (!Files.isDirectory(t)) Seq(t)
    else {
      val s = Files.walk(t)
      try s.toArray.map(_.asInstanceOf[Path]).filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.sortBy(_.toString).toSeq
      finally s.close()
    }

  def bytesUnder(t: String): Long =
    dataFiles(Paths.get(t)).map(Files.size).sum
}
