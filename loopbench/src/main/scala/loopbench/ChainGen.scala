package loopbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded chain-shaped inputs for the sync workload.
  *
  * The transfer table follows the Bitquery extract the reference pipelines
  * consume (FIXTURES.md F1): multi-row transactions, so `log_index` has work
  * to do; block numbers that rise with the transaction number, so a block
  * range is a contiguous slice of history; token popularity that is
  * log-uniform over rank (Zipf with exponent 1). Token metadata and prices
  * are dimension-sized and built on the driver; about 5% of price symbols
  * are missing (the enrichment's fillna path) and a few prices are zero
  * (what `Validations.priceSanity` looks for).
  *
  * Every value is a hash of (seed, row coordinates), so a table does not
  * depend on how many tasks write it.
  */
object ChainGen {

  final case class Sizes(txns: Long, tokens: Int, symbols: Int,
      accounts: Long, txnsPerBlock: Long) {
    def blocks: Long = (txns + txnsPerBlock - 1) / txnsPerBlock
  }

  /** About 100k transfer rows in 25k transactions over 8.3k blocks. The
    * density (3 transactions per block, 1-7 transfers each) is an
    * assumption sized to the run budget, not a measured chain's. */
  val Default = Sizes(txns = 25000L, tokens = 5000, symbols = 1250,
    accounts = 10000L, txnsPerBlock = 3L)

  val NativeSymbol = "ETH"

  /** What the generator knows about its own output; the benchmark checks
    * the program's results against these. */
  final case class Facts(transfers: Long, headBlock: Long,
      priceRows: Long, zeroPrices: Long, missingSymbols: Long)

  /** Sort spec for `log_index`: a total order inside each transaction. */
  val SortSpec: Seq[(String, Boolean)] = Seq("type" -> true, "trace_index" -> true)

  private def h(seed: Long, tag: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(tag) +: cols): _*)

  private def draw(seed: Long, tag: Int, n: Long, cols: Column*): Column =
    pmod(h(seed, tag, cols: _*), lit(n))

  def transfers(spark: SparkSession, seed: Long, z: Sizes, parts: Int): DataFrame = {
    val t = col("t"); val i = col("trace_index")
    val u = draw(seed, 4, 1L << 30, t, i).cast("double") / (1L << 30).toDouble
    val tokenRank = greatest(lit(1L), least(lit(z.tokens - 1L),
      floor(exp(u * math.log(z.tokens - 1.0))).cast("long")))
    spark.range(0L, z.txns, 1L, parts).withColumnRenamed("id", "t")
      .withColumn("trace_index",
        explode(sequence(lit(1), (draw(seed, 1, 7L, t) + 1).cast("int"))))
      .withColumn("type",
        when(i === 1, lit(0)).when(draw(seed, 3, 4L, t, i) === 0, lit(1)).otherwise(lit(2)))
      .select(
        format_string("0x%016x", h(seed, 2, t)).as("transaction_id"),
        i, col("type"),
        (t / z.txnsPerBlock).cast("long").as("block_number"),
        timestamp_seconds(lit(1700000000L) + (t / z.txnsPerBlock).cast("long") * 12L)
          .as("block_date_time"),
        format_string("0x%012x", draw(seed, 5, z.accounts, t, i)).as("sender_address"),
        format_string("0x%012x", draw(seed, 6, z.accounts, t, i)).as("receiver_address"),
        format_string("0x%08x", when(col("type") === 2, tokenRank).otherwise(lit(0L)))
          .as("token_address"),
        when(col("type") === 2, draw(seed, 7, 1000000000L, t, i).cast("double"))
          .otherwise(draw(seed, 7, 1000000L, t, i).cast("double") / 100.0).as("coin_value"),
        (draw(seed, 8, 10000L, t, i).cast("double") / 1000000.0).as("fee"))
  }

  final case class Dims(metadata: Seq[(String, String, Int)], prices: Seq[(String, Double)],
      missingSymbols: Long)

  /** Token metadata (token_address, symbol, decimals) for every token rank,
    * and prices (symbol, coin_price_usd). Rank 0 is the native coin. */
  def dims(seed: Long, z: Sizes): Dims = {
    val rnd = new SplittableRandom(seed)
    val decimals = Array(0, 2, 4, 6, 8)
    val metadata = (0 until z.tokens).map { r =>
      if (r == 0) (f"0x$r%08x", NativeSymbol, 18)
      else (f"0x$r%08x", s"S${1 + rnd.nextInt(z.symbols - 1)}", decimals(rnd.nextInt(decimals.length)))
    }
    val prices = (0 until z.symbols).flatMap { s =>
      val missing = s != 0 && rnd.nextDouble() < 0.05
      val zero = s != 0 && rnd.nextDouble() < 0.003
      val price = if (s == 0) 2000.0 + rnd.nextInt(100000) / 100.0
        else if (zero) 0.0 else (1 + rnd.nextInt(100000)) / 100.0
      if (missing) None else Some((if (s == 0) NativeSymbol else s"S$s", price))
    }
    val priced = prices.map(_._1).toSet
    Dims(metadata, prices, metadata.map(_._2).distinct.count(s => !priced(s)).toLong)
  }

  /** Writes transfers, metadata and prices as parquet under `dir`. */
  def stage(spark: SparkSession, seed: Long, z: Sizes, dir: String, parts: Int): Facts = {
    import spark.implicits._
    transfers(spark, seed, z, parts).write.parquet(s"$dir/transfers")
    val d = dims(seed, z)
    d.metadata.toDF("token_address", "symbol", "decimals")
      .coalesce(1).write.parquet(s"$dir/metadata")
    d.prices.toDF("symbol", "coin_price_usd").coalesce(1).write.parquet(s"$dir/prices")
    Facts(
      transfers = spark.read.parquet(s"$dir/transfers").count(),
      headBlock = z.blocks - 1,
      priceRows = d.prices.size.toLong,
      zeroPrices = d.prices.count(_._2 <= 0).toLong,
      missingSymbols = d.missingSymbols)
  }
}
