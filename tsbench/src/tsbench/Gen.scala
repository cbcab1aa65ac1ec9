package tsbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic input generators. Every value is a hash of (seed, salt,
  * row key), so the same seed gives byte-identical files whatever the
  * partitioning, and nothing is drawn from a shared random stream. */
object Gen {
  /** Event spacing of the sf0.1 test data (100k events over 30 days). */
  val StepMicros: Long = 30L * 24 * 3600 * 1000000 / 100000
  private val BaseMicros: Long = 1704067200L * 1000000 // 2024-01-01 00:00:00 UTC

  /** Uniform double in [0, 1) from (seed, salt, keys). */
  def u(seed: Long, salt: Int, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(1L << 40)).cast("double") /
      lit((1L << 40).toDouble)

  private def pick(xs: Seq[String], r: Column): Column =
    element_at(array(xs.map(lit): _*), (r * xs.size).cast("int") + 1)

  private def money(r: Column, lo: Double, hi: Double): Column =
    round(lit(lo) + r * (hi - lo), 2)

  private def days(fromDay: String, r: Column, span: Int): Column =
    date_add(to_date(lit(fromDay)), (r * span).cast("int")).cast("timestamp_ntz")

  /** `events` with the test data's schema: 3 symbols (user_id % 3),
    * increasing timestamps at the testdata's density, exponential values. */
  def events(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    spark.range(n).select(
      id.as("event_id"),
      timestamp_micros(lit(BaseMicros) + id * StepMicros +
        floor(u(seed, 1, id) * StepMicros).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      floor(u(seed, 2, id) * 1500).cast("long").as("user_id"),
      pick(Seq("view", "click", "purchase", "signup", "error"), u(seed, 3, id)).as("event_type"),
      round(-log(lit(1.0) - u(seed, 4, id)) * 50, 2).as("value"),
      concat(lit("{\"k\": "), floor(u(seed, 5, id) * 100).cast("string"), lit("}")).as("props"))
  }

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  /** The star schema plus text and vector tables, shaped like the
    * sf0.01 test data (row counts, key ranges, value ranges, 64-d unit
    * embeddings in 10 labelled clusters, 5 % near-duplicate documents). */
  def starSchema(spark: SparkSession, seed: Long): Seq[(String, DataFrame)] = {
    val id = col("id")
    val nCust = 1500L; val nOrders = 15000L; val nLines = 60000L
    val nSupp = 100L; val nPart = 2000L; val nDocs = 500L; val nVecs = 500L
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val customer = spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      floor(u(seed, 10, id) * 25).cast("int").as("c_nationkey"),
      money(u(seed, 11, id), -999.99, 9999.99).as("c_acctbal"),
      pick(segments, u(seed, 12, id)).as("c_mktsegment"))
    val orders = spark.range(nOrders).select(id.as("o_orderkey"),
      floor(u(seed, 20, id) * nCust).cast("long").as("o_custkey"),
      pick(Seq("O", "F", "P"), u(seed, 21, id)).as("o_orderstatus"),
      money(u(seed, 22, id), 1000, 500000).as("o_totalprice"),
      days("1992-01-01", u(seed, 23, id), 2400).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        u(seed, 24, id)).as("o_orderpriority"))
    val qty = (floor(u(seed, 34, id) * 50) + 1).cast("double")
    val lineitem = spark.range(nLines).select(
      floor(u(seed, 30, id) * nOrders).cast("long").as("l_orderkey"),
      floor(u(seed, 31, id) * nPart).cast("long").as("l_partkey"),
      floor(u(seed, 32, id) * nSupp).cast("long").as("l_suppkey"),
      (floor(u(seed, 33, id) * 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + u(seed, 35, id) * 1100), 2).as("l_extendedprice"),
      (floor(u(seed, 36, id) * 11) / 100).as("l_discount"),
      (floor(u(seed, 37, id) * 9) / 100).as("l_tax"),
      pick(Seq("A", "N", "R"), u(seed, 38, id)).as("l_returnflag"),
      pick(Seq("O", "F"), u(seed, 39, id)).as("l_linestatus"),
      days("1992-01-02", u(seed, 40, id), 2500).as("l_shipdate"))
    val supplier = spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      floor(u(seed, 50, id) * 25).cast("int").as("s_nationkey"),
      money(u(seed, 51, id), -999.99, 9999.99).as("s_acctbal"))
    val part = spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick(Seq("large", "small", "medium", "tiny", "huge"), u(seed, 60, id)),
        pick(Seq("ring", "bolt", "nut", "gear", "pipe", "valve"), u(seed, 61, id))).as("p_name"),
      concat(lit("Brand#"), (floor(u(seed, 62, id) * 50) + 1).cast("string")).as("p_brand"),
      pick(Seq("LARGE", "SMALL", "MEDIUM", "ECONOMY", "STANDARD", "PROMO"),
        u(seed, 63, id)).as("p_type"),
      (floor(u(seed, 64, id) * 50) + 1).cast("int").as("p_size"),
      money(u(seed, 65, id), 900, 2000).as("p_retailprice"))
    val nation = spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey"))
    val region = spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name"))

    // documents: 5 % are near-duplicates of an earlier document (same
    // words, one replaced by the marker "dup")
    val vocab = array(Vocab.map(lit): _*)
    def nWords(x: Column): Column = (floor(u(seed, 70, x) * 90) + 8).cast("int")
    val isDup = id >= 10 && u(seed, 71, id) < 0.05
    val src = when(isDup, id - 1 - floor(u(seed, 72, id) * 9).cast("long")).otherwise(id)
    val mark = when(isDup, floor(u(seed, 73, id) * nWords(src)).cast("int")).otherwise(lit(-1))
    val words = transform(sequence(lit(0), nWords(src) - 1), p =>
      when(p === mark, lit("dup")).otherwise(
        element_at(vocab, (pmod(xxhash64(lit(seed), lit(74), src, p), lit(Vocab.size.toLong)) + 1).cast("int"))))
    val documents = spark.range(nDocs).select(id.as("doc_id"), array_join(words, " ").as("text"),
      u(seed, 75, id).as("r"))
      .select(col("doc_id"), col("text"),
        when(col("r") < 0.4, "en").otherwise(pick(Seq("zh", "es", "fr", "de"), (col("r") - 0.4) / 0.6)).as("lang"),
        concat(lit("src"), (col("doc_id") % 20).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))

    // embeddings: a per-label centre plus per-vector noise, unit-normalised
    val label = floor(u(seed, 80, id) * 10).cast("int")
    val raw = transform(sequence(lit(0), lit(63)), i =>
      (u(seed, 81, label, i) * 2 - 1) + (u(seed, 82, id, i) * 2 - 1) * 0.5)
    val embeddings = spark.range(nVecs).select(id.as("vec_id"), label.as("label"), raw.as("raw"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y))).cast("float"))
          .as("embedding"),
        col("label"))

    Seq("customer" -> customer, "orders" -> orders, "lineitem" -> lineitem,
      "supplier" -> supplier, "part" -> part, "nation" -> nation, "region" -> region,
      "events" -> events(spark, seed, 10000), "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Writes `df` as ONE parquet file `dir/name.parquet` with 1 MB row
    * groups, the layout of the repository's test data. */
  def writeTable(df: DataFrame, dir: File, name: String): Unit = {
    val tmp = new File(dir, s".tmp_$name")
    df.coalesce(1).write.mode("overwrite").option("parquet.block.size", 1L << 20)
      .option("compression", "snappy").parquet(tmp.getAbsolutePath)
    val part = Option(tmp.listFiles).getOrElse(Array.empty[File])
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $name"))
    Files.move(part.toPath, new File(dir, s"$name.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
    Session.deleteRec(tmp)
  }

  // ---- stream input: wire-JSON bars (Pipeline.wireSchema) ----

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def unit(seed: Long, a: Long, b: Long, salt: Int): Double =
    (mix(mix(mix(seed) ^ a) ^ (b * 31 + salt)) >>> 11).toDouble / (1L << 53).toDouble

  def symbol(k: Int): String = f"S$k%05d"

  /** Epoch second of wire minute `m`. */
  def minuteEpochSec(m: Int): Long = BaseMicros / 1000000 + 60L * m

  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  /** One wire-JSON bar for symbol `k` at minute `m`. */
  def wireBar(seed: Long, k: Int, m: Int): String = {
    val level = 20 + 180 * unit(seed, k, -1, 0)
    def r2(x: Double) = math.round(x * 100) / 100.0
    val open = r2(level * (1 + 0.02 * (unit(seed, k, m, 1) - 0.5)))
    val close = r2(level * (1 + 0.02 * (unit(seed, k, m, 2) - 0.5)))
    val high = r2(math.max(open, close) + level * 0.005 * unit(seed, k, m, 3))
    val low = r2(math.min(open, close) - level * 0.005 * unit(seed, k, m, 4))
    val volume = 1 + (unit(seed, k, m, 5) * 10000).toLong
    val dt = fmt.format(java.time.Instant.ofEpochSecond(minuteEpochSec(m)))
    s"""{"symbol":"${symbol(k)}","Datetime":"$dt","Open":$open,"High":$high,"Low":$low,"Close":$close,"Volume":$volume,"Dividends":0.0,"Stock_Splits":0.0}"""
  }
}
