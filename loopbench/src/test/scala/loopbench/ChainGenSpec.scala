package loopbench

import graft.GraftSession
import graft.checks.Validations
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

class ChainGenSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("loopbench-test", 2)
  val small = ChainGen.Sizes(txns = 3000L, tokens = 200, symbols = 60, accounts = 500L,
    txnsPerBlock = 3L)

  private def signature(df: DataFrame): Seq[Any] =
    Validations.tableChecksum(df, "t", df.columns.toSeq).head().toSeq.tail

  test("transfers are the same for a seed, whatever the task count") {
    val a = signature(ChainGen.transfers(spark, 7L, small, 1))
    assert(a == signature(ChainGen.transfers(spark, 7L, small, 3)))
    assert(a.head.asInstanceOf[Long] > small.txns, "transactions have several rows")
  }

  test("different seeds give different transfers and dimensions") {
    assert(signature(ChainGen.transfers(spark, 7L, small, 2)) !=
      signature(ChainGen.transfers(spark, 8L, small, 2)))
    assert(ChainGen.dims(7L, small) != ChainGen.dims(8L, small))
  }

  test("dimensions are the same for a seed and cover every token") {
    val d = ChainGen.dims(7L, small)
    assert(d == ChainGen.dims(7L, small))
    assert(d.metadata.map(_._1).distinct.size == small.tokens)
    assert(d.prices.exists(_._1 == ChainGen.NativeSymbol))
    assert(d.missingSymbols > 0, "some symbols lack a price")
  }

  test("block numbers rise with the transaction and every row joins metadata") {
    val t = ChainGen.transfers(spark, 7L, small, 2)
    val meta = spark.createDataFrame(ChainGen.dims(7L, small).metadata)
      .toDF("token_address", "symbol", "decimals")
    assert(t.join(meta, Seq("token_address"), "left_anti").isEmpty)
    val maxBlock = t.agg(org.apache.spark.sql.functions.max("block_number")).head().getLong(0)
    assert(maxBlock == small.blocks - 1)
  }
}
