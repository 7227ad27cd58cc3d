package loopbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The star schema plus `events`, `documents` and `embeddings` that
  * `SparkEntry.queries` read (TESTDATA.md), generated at a scale factor
  * with the same column names, types and value domains as the library's
  * test data. Timestamps are written as TIMESTAMP_NTZ so the files read
  * the same way in Spark and in the DuckDB oracle.
  *
  * The query workload always uses [[QuerySeed]]: its correctness record
  * (expected row count and checksum per query) holds for that data only,
  * and the benchmark seed only reorders the queries.
  */
object StarGen {

  val QuerySeed = 42L

  private val Words = Array("a", "the", "data", "spark", "table", "row", "column",
    "query", "scan", "join", "sort", "hash", "agg", "group", "window", "filter",
    "stream", "batch", "merge", "key", "value", "part", "order", "line",
    "customer", "small", "big", "fast", "slow", "vector", "index")

  def tables(spark: SparkSession, seed: Long, sf: Double, parts: Int): Map[String, DataFrame] = {
    def n(base: Double, floor: Long = 1L) = math.max(floor, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nUsers = n(15000); val nDocs = n(50000, 500); val nVecs = n(20000, 500)

    def h(tag: Int, cols: Column*): Column = xxhash64((lit(seed) +: lit(tag) +: cols): _*)
    def d(tag: Int, m: Long, cols: Column*): Column = pmod(h(tag, cols: _*), lit(m))
    def pick(values: Seq[String], tag: Int, cols: Column*): Column =
      element_at(array(values.map(lit): _*), (d(tag, values.size.toLong, cols: _*) + 1).cast("int"))
    def cents(tag: Int, lo: Long, hi: Long, cols: Column*): Column =
      ((d(tag, hi - lo + 1, cols: _*) + lo).cast("double") / 100.0)
    def day(from: String, days: Long, tag: Int, cols: Column*): Column =
      expr(s"CAST(DATE'$from' AS TIMESTAMP_NTZ)") + make_dt_interval(d(tag, days, cols: _*))
    def range(count: Long, name: String) =
      spark.range(0L, count, 1L, parts).withColumnRenamed("id", name)

    val region = spark.createDataFrame(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (r, i) => (i, r) }).toDF("r_regionkey", "r_name").coalesce(1)
    val nation = spark.range(0L, 25L, 1L, 1).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val k = col("k")
    val customer = range(nCust, "k").select(k.as("c_custkey"),
      format_string("Customer#%09d", k).as("c_name"),
      d(1, 25, k).cast("int").as("c_nationkey"), cents(2, -99999, 999999, k).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 3, k)
        .as("c_mktsegment"))
    val supplier = range(nSupp, "k").select(k.as("s_suppkey"),
      format_string("Supplier#%09d", k).as("s_name"),
      d(4, 25, k).cast("int").as("s_nationkey"), cents(5, -99999, 999999, k).as("s_acctbal"))
    val part = range(nPart, "k").select(k.as("p_partkey"),
      concat_ws(" ",
        pick(Seq("red", "blue", "green", "black", "white", "small", "large", "steel"), 6, k),
        pick(Seq("widget", "bolt", "anvil", "ring", "gear", "nut", "pipe", "valve"), 7, k))
        .as("p_name"),
      concat(lit("Brand#"), d(8, 25, k) + 1).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), 9, k).as("p_type"),
      (d(10, 50, k) + 1).cast("int").as("p_size"),
      ((pmod(k, lit(1000L)) * 10 + 90000).cast("double") / 100.0).as("p_retailprice"))
    val orders = range(nOrd, "k").select(k.as("o_orderkey"), d(11, nCust, k).as("o_custkey"),
      pick(Seq("F", "O", "P"), 12, k).as("o_orderstatus"),
      cents(13, 100000, 50000000, k).as("o_totalprice"),
      day("1995-01-01", 2404, 14, k).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15, k)
        .as("o_orderpriority"))
    val lineitem = range(nLine, "k").select(d(16, nOrd, k).as("l_orderkey"),
      d(17, nPart, k).as("l_partkey"), d(18, nSupp, k).as("l_suppkey"),
      (d(19, 7, k) + 1).cast("int").as("l_linenumber"),
      (d(20, 50, k) + 1).cast("double").as("l_quantity"),
      cents(21, 90100, 10500000, k).as("l_extendedprice"),
      (d(22, 11, k).cast("double") / 100.0).as("l_discount"),
      (d(23, 9, k).cast("double") / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), 24, k).as("l_returnflag"),
      pick(Seq("F", "O"), 25, k).as("l_linestatus"),
      day("1995-01-02", 2498, 26, k).as("l_shipdate"))
    val step = 30L * 86400L * 1000000L / nEv
    val events = range(nEv, "k").select(k.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + k * step + d(27, step, k))
        .cast("timestamp_ntz").as("ts"),
      d(28, nUsers, k).as("user_id"),
      pick(Seq("click", "view", "purchase", "signup", "error"), 29, k).as("event_type"),
      cents(30, 1, 49002, k).as("value"),
      format_string("{\"k\": %d}", d(31, 100, k)).as("props"))

    // 10% of documents copy an earlier document with about one word in
    // ten replaced, so the near-duplicate operators have clusters to find.
    val dup = d(32, 10, k) === 0 && k > 0
    val src = when(dup, pmod(h(33, k), greatest(k, lit(1L)))).otherwise(k)
    val words = array(Words.toIndexedSeq.map(lit): _*)
    val len = d(34, 91, col("src")) + 10
    val text = concat_ws(" ", transform(sequence(lit(1L), col("len")), j =>
      element_at(words, (when(col("dup") && d(35, 10, k, j) === 0, d(36, Words.length, k, j))
        .otherwise(d(37, Words.length, col("src"), j)) + 1).cast("int"))))
    val documents = range(nDocs, "k")
      .withColumn("dup", dup).withColumn("src", src).withColumn("len", len)
      .select(k.as("doc_id"), text.as("text"),
        pick(Seq("en", "en", "en", "de", "es", "fr", "zh"), 38, k).as("lang"),
        concat(lit("src"), d(39, 20, k)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    // Unit vectors around ten cluster centres (Box-Muller on hashed uniforms).
    def unif(tag: Int, cols: Column*) = (d(tag, (1L << 30) - 1, cols: _*) + 1).cast("double") / (1L << 30).toDouble
    def gauss(tag: Int, cols: Column*) =
      sqrt(log(unif(tag, cols: _*)) * -2.0) * cos(unif(tag + 1, cols: _*) * (2 * math.Pi))
    val label = d(40, 10, k)
    val raw = transform(sequence(lit(1L), lit(64L)), j => gauss(41, label, j) + gauss(43, k, j) * 0.6)
    val embeddings = range(nVecs, "k").withColumn("raw", raw)
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
      .select(k.as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        label.cast("int").as("label"))

    Map("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }

  def stage(spark: SparkSession, sf: Double, dir: String, parts: Int): Unit =
    tables(spark, QuerySeed, sf, parts).foreach { case (name, df) =>
      df.write.parquet(s"$dir/$name.parquet")
    }
}
