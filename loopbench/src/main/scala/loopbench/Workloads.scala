package loopbench

import graft.SparkEntry
import graft.checks.Validations
import graft.operators.Aggregations
import graft.pipelines.Pipelines
import graft.streaming.{MicroBatchRunner, SyncState}
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One workload: a warm-up op on throwaway state, the timed op, and the
  * checks that need the whole run. Ops return their problems; an op with
  * none passed every check. */
trait Workload {
  /** Ops in a timed phase for `--seconds`. The count depends on
    * `seconds` alone, so every run does the same work. */
  def ops(seconds: Int): Int
  def warmOp(i: Int, dir: String): Unit
  def op(i: Int, dir: String): Seq[String]
  def endChecks(dir: String): Seq[String]
  /** Sink directories the phase wrote under `dir`. */
  def sinkDirs(dir: String): Seq[File]
  def family(i: Int): String
  def opName(i: Int): String
  /** Ops in one warm-up round. */
  def opsPerRound: Int = 1
  /** Warm-up rounds, fixed from measured round times (every run records
    * them with their JIT time): the first round runs 2-4x slower than a
    * timed op, the third within about 25%. The JIT compiler keeps working
    * through the timed phase, about as long as each op runs; more rounds
    * would not fit the run budget. */
  def warmRounds: Int = 3
  /** Whole-run checks, each counted as one attempted op. */
  def endChecksCount: Int = 0
  /** Input sizes, recorded beside every run's metrics. */
  def inputs: Map[String, Any]
}

object Workloads {
  val SyncSinks = Seq("transactions", "link_inputs", "link_outputs", "chain_state")
  /** Blocks per scheduled run. The reference reads its `batch_size` and
    * `streaming_lag` from deployment config that is not published, so
    * this size is an assumption, not measured traffic: small enough that
    * a run's fixed cost dominates, large enough that every run lands rows
    * in every sink. The lag is 0 because generated history has no late
    * blocks; a lag only moves the range's upper end down. */
  val BlockSyncBatchBlocks = 250L
  /** Ops per second of `--seconds`, fixed at this commit: changing them
    * changes how much work a run measures, and runs stop being comparable
    * across commits. A `block_sync` op takes about 2.4 s on 4 task slots,
    * a `query_mix` pass about 7 s. */
  val BlockSyncOpsPerSecond = 1.0
  val QueryPassSeconds = 6.0

  def chainInputs(f: ChainGen.Facts, batchBlocks: Long): Map[String, Any] = {
    val z = ChainGen.Default
    Map("transfers" -> f.transfers, "transactions" -> z.txns, "blocks" -> z.blocks,
      "tokens" -> z.tokens, "symbols" -> z.symbols, "price_rows" -> f.priceRows,
      "missing_symbols" -> f.missingSymbols, "zero_prices" -> f.zeroPrices,
      "batch_blocks" -> batchBlocks)
  }

  def emptyDir(path: String): String = {
    val f = new File(path)
    require(!f.exists() || Option(f.list()).forall(_.isEmpty), s"$path is not empty at start")
    f.mkdirs()
    path
  }

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

/** The reference's scheduled block-range sync, called through the
  * library's public API only. */
final class SyncLoop(spark: SparkSession, in: String, val facts: ChainGen.Facts, spans: Spans) {
  import Workloads._

  val source = spark.read.parquet(s"$in/transfers")
  val metadata = spark.read.parquet(s"$in/metadata")
  val prices = spark.read.parquet(s"$in/prices")
  private val checksumCols = Seq("transaction_id", "trace_index", "token_address",
    "sender_address", "receiver_address", "block_number")

  private def enrich(df: DataFrame): DataFrame =
    Pipelines.enrichmentPipeline(df, metadata, prices, ChainGen.SortSpec, tronFeeRule = false)

  /** One run: read state, sync at most one batch of `batchBlocks` blocks,
    * project the landed range into the four sinks, validate the range
    * unless `validate` is off. Returns the range synced and the problems
    * found. */
  def run(dir: String, batchBlocks: Long, validate: Boolean = true): ((Long, Long), Seq[String]) = {
    val enriched = s"$dir/enriched"
    val (lo, hi) = spans("streaming.runner") {
      val state = new SyncState(s"$dir/state")
      val key = state.key("eth", "parquet", "loopbench")
      val lo = state.get(key).map(_.lastSyncedBlock).getOrElse(-1L)
      val r = MicroBatchRunner.run(spark, source, "block_number", state, key,
        streamingLag = 0L, batchSize = batchBlocks, pipeline = enrich,
        sinkPath = enriched, maxBatches = 1)
      r.ranges.headOption.getOrElse((lo, lo))
    }
    if (hi <= lo) return ((lo, hi), Seq(s"no batch ran after block $lo"))
    val inRange = col("block_number") > lo && col("block_number") <= hi
    spans("pipelines.graphProjection") {
      val landed = spark.read.parquet(enriched).filter(inRange)
      val g = Pipelines.graphProjection(landed, "eth")
      Seq(g.transactions, g.linkInputs, g.linkOutputs, g.chainState).zip(SyncSinks)
        .foreach { case (df, name) => df.write.mode("append").parquet(s"$dir/$name") }
      landed.unpersist()
    }
    if (!validate) return ((lo, hi), Nil)
    val problems = spans("checks.Validations") {
      val landed = spark.read.parquet(enriched)
      val parity = Validations.countParity(source, landed, inRange)
      val price = Validations.priceSanity(prices, metadata, "symbol", "coin_price_usd",
        ChainGen.NativeSymbol).map(c => c.name -> c).toMap
      val Array(a, b) = Validations.tableChecksum(source.filter(inRange), "source", checksumCols)
        .union(Validations.tableChecksum(landed.filter(inRange), "sink", checksumCols))
        .orderBy("tbl").collect()
      val missing = facts.missingSymbols
      Seq(
        Option.when(!parity.passed || parity.detail.startsWith("left=0 "))(s"countParity ${parity.detail}"),
        Option.when(!price("native_price_positive").passed)("native price not positive"),
        Option.when(price("zero_price_ratio").detail !=
          s"zero=${facts.zeroPrices} total=${facts.priceRows}")(s"zero prices: ${price("zero_price_ratio").detail}"),
        Option.when(price("no_missing_tokens").detail != s"missing=$missing" ||
          price("no_missing_tokens").passed != (missing == 0))(s"missing prices: ${price("no_missing_tokens").detail}"),
        Option.when(a.toSeq.tail != b.toSeq.tail)(s"range checksum source=$b sink=$a")
      ).flatten
    }
    ((lo, hi), problems)
  }

  /** Order-independent checksum of one sink. Chain state is an upsert
    * keyed by chain (the reference's max pivot), so it is compared after
    * that reduction: one row per batch and one row per backfill are the
    * same state. */
  def sinkChecksum(dir: String, sink: String): Seq[Any] = {
    val raw = spark.read.parquet(s"$dir/$sink")
    val df = if (sink == "chain_state")
      Aggregations.chainState(raw, "chain", Seq("price_usd", "block_date_time", "block_number"))
    else raw
    Validations.tableChecksum(df, sink, df.columns.toSeq).head().toSeq
  }
}

/** `block_sync`: many small scheduled runs into one growing set of sinks. */
final class BlockSync(loop: SyncLoop) extends Workload {
  import Workloads._
  private var synced = -1L

  def ops(seconds: Int): Int = {
    val n = math.max(1, (seconds * BlockSyncOpsPerSecond).toInt)
    require(n * BlockSyncBatchBlocks <= ChainGen.Default.blocks,
      s"$n runs of $BlockSyncBatchBlocks blocks exceed the ${ChainGen.Default.blocks} generated blocks")
    n
  }
  def warmOp(i: Int, dir: String): Unit = loop.run(dir, BlockSyncBatchBlocks)
  def op(i: Int, dir: String): Seq[String] = {
    val ((_, hi), problems) = loop.run(dir, BlockSyncBatchBlocks)
    synced = hi
    problems
  }
  /** The loop's sinks must equal one backfill of the same range. */
  def endChecks(dir: String): Seq[String] = {
    val batch = emptyDir(s"$dir-backfill")
    val (_, problems) = loop.run(batch, synced + 1, validate = false)
    problems.map("backfill: " + _) ++ SyncSinks.flatMap { s =>
      val (a, b) = (loop.sinkChecksum(dir, s), loop.sinkChecksum(batch, s))
      Option.when(a != b)(s"sink $s: loop $a backfill $b")
    }
  }
  def sinkDirs(dir: String): Seq[File] = ("enriched" +: SyncSinks).map(s => new File(dir, s))
  def family(i: Int): String = ""
  def opName(i: Int): String = "sync"
  override def endChecksCount: Int = 1
  def inputs: Map[String, Any] = chainInputs(loop.facts, BlockSyncBatchBlocks)
}

/** `query_mix`: a fixed list of `SparkEntry.queries` entries, in an order
  * the seed shuffles, each written to a `noop` sink. */
final class QueryMix(spark: SparkSession, in: String, seed: Long, spans: Spans,
    expected: Map[String, Seq[String]]) extends Workload {
  import Workloads._

  val order: IndexedSeq[String] = new scala.util.Random(seed).shuffle(QueryMix.Queries.map(_._1))
  private val familyOf = QueryMix.Queries.toMap
  /** Per query: mismatches against the correctness record. */
  val mismatches = scala.collection.mutable.Map.empty[String, String]

  private def run(q: String): Unit =
    spans(s"SparkEntry.${familyOf(q)}") {
      SparkEntry.queries(q)(spark, in).write.format("noop").mode("overwrite").save()
    }

  def ops(seconds: Int): Int =
    order.size * math.max(1, (seconds / QueryPassSeconds).toInt)
  override def opsPerRound: Int = order.size
  /** A pass is ~8 ops; its second round already runs within ~20% of a
    * timed pass. */
  override def warmRounds: Int = 2
  /** The first warm-up round checks each query against the record. */
  def warmOp(i: Int, dir: String): Unit =
    if (i < order.size) check(opName(i)) else run(opName(i))
  def op(i: Int, dir: String): Seq[String] = {
    run(opName(i))
    mismatches.get(opName(i)).toSeq
  }
  def endChecks(dir: String): Seq[String] = Nil
  def sinkDirs(dir: String): Seq[File] = Nil
  def family(i: Int): String = familyOf(opName(i))
  def opName(i: Int): String = order(i % order.size)
  def inputs: Map[String, Any] = Map("sf" -> Main.QuerySf, "queries" -> order)

  /** Row count and checksum of one query's result, as strings. */
  def signature(q: String): Seq[String] = {
    val df = SparkEntry.queries(q)(spark, in)
    Validations.tableChecksum(df, q, df.columns.toSeq).head().toSeq.tail.map(_.toString)
  }

  private def check(q: String): Unit = {
    val got = try signature(q) catch { case e: Exception => Seq(e.toString) }
    expected.get(q) match {
      case Some(want) if want == got =>
      case want => mismatches(q) = s"$q: expected ${want.getOrElse("no record")} got $got"
    }
  }
}

object QueryMix {
  /** (query, family): relational/ETL, graph loops, dedup/corpus and
    * ANN/sketch operators, two each; q220 and q229 route on memoized
    * counts. A pass takes about 6 s at scale factor 0.01 on 4 task slots. */
  val Queries: IndexedSeq[(String, String)] = IndexedSeq(
    "q133_star_join" -> "relational", "q229_skew_routed_join" -> "relational",
    "q65_pagerank" -> "graph", "q136_bfs" -> "graph",
    "q28_minhash_neardup" -> "dedup", "q66_tfidf" -> "dedup",
    "q43_ann_ivf" -> "ann_sketch", "q220_percentile_ranks" -> "ann_sketch")

  val Families: Seq[String] = Seq("relational", "graph", "dedup", "ann_sketch")
}
