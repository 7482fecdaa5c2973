package cfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.tools.CfTools

/** Row count and order-independent hash of a query's result. */
final case class Answer(rows: Long, hash: Long)

object Answer {
  private val Prime = 1000000007L

  /** One-row summary of `df`: its row count and the sum of a 64-bit
    * hash of every row, reduced mod a prime so the sum cannot overflow.
    * Computed by Spark, so the same summary over the parquet twin is
    * the expected answer.
    */
  def summarize(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("rows"), coalesce(sum(rowHash(df)), lit(0L)).as("hash"))

  /** The hash of one row of `df` that [[summarize]] sums. */
  def rowHash(df: DataFrame): Column =
    pmod(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*), lit(Prime))

  def of(rows: Array[Row]): Answer = Answer(rows(0).getLong(0), rows(0).getLong(1))
}

/** Where a query reads its tables: the columnfile tables under test or
  * their parquet twins.
  */
final class Source(val spark: SparkSession, val format: String, paths: Map[String, String]) {
  def path(table: String): String = paths(table)
  def table(name: String): DataFrame = spark.read.format(format).load(paths(name))
}

/** A seeded query instance: `build` gives the result rows over a source;
  * the benchmark runs and checks `Answer.summarize` of them. `weight` is
  * how many times each round of the closed loop runs it.
  */
final case class Query(shape: String, table: String, build: Source => DataFrame,
    weight: Int = 1)

object Queries {
  private def wideSums: Seq[Column] = Seq(
    count(lit(1)), sum("l_linenumber"), sum(col("l_quantity").cast("long")),
    sum(round(col("l_extendedprice") * 100).cast("long")),
    sum(round(col("l_discount") * 100).cast("long")),
    sum(round(col("l_tax") * 100).cast("long")),
    min("l_shipdate"), max("l_shipdate"),
    sum("l_orderkey"), sum("l_partkey"), sum("l_suppkey"))

  /** The five `scan_wide` query shapes, parameters drawn from `rnd`.
    * The full-width aggregate, by far the slowest shape, runs three times
    * a round: a round is then seven queries, so the median always falls
    * on the slowest of the four light shapes and the 11th-slowest query
    * (the tail) on the aggregate from four rounds on, whatever the
    * number of rounds. With one run each, the tail would jump from one
    * shape to the other as throughput crossed eleven rounds per run.
    */
  def wide(rnd: Random, wideRows: Long): Seq[Query] = {
    val yr = 1992 + rnd.nextInt(7)
    val x = 2.0 + rnd.nextInt(6) / 10.0
    val flag = Seq("A", "N", "R")(rnd.nextInt(3))
    val status = Seq("O", "F")(rnd.nextInt(2))
    val maxKey = wideRows / 4
    val width = maxKey / 100
    val lo = 1 + (rnd.nextDouble() * (maxKey - width)).toLong
    val token = f"w${rnd.nextInt(Gen.RareTokens)}%03d"
    Seq(
      // every column, and a filter no chunk statistic can decide
      Query("full_agg", "wide", s => s.table("wide")
        .filter(year(col("l_shipdate")) =!= yr)
        .groupBy("l_returnflag", "l_linestatus").agg(wideSums.head, wideSums.tail: _*),
        weight = 3),
      Query("narrow_arith", "wide", s => s.table("wide")
        .filter(col("l_quantity") * col("l_discount") > x)
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))),
      Query("categorical_eq", "wide", s => s.table("wide")
        .filter(col("l_returnflag") === flag && col("l_linestatus") === status)
        .select("l_orderkey", "l_partkey", "l_quantity")),
      Query("sorted_range", "wide", s => s.table("wide")
        .filter(col("l_orderkey").between(lo, lo + width))),
      Query("text_cat", "text", s => CfTools.cat(s.spark,
        Seq(s.path("text")), filters = Seq(("text", token)),
        select = Seq("doc_id", "lang", "n_chars"), inputFormat = s.format)))
  }

  /** Point and short-range lookups on `l_orderkey` and `l_partkey` of a
    * table holding the base lineitem block, keys drawn from `rnd`.
    */
  def lookups(rnd: Random, table: String): Seq[Query] = {
    def draw(n: Long): Long = 1 + (rnd.nextDouble() * n).toLong
    val (ok, ok2) = (draw(Gen.BaseRows / 4), draw(Gen.BaseRows / 4 - 40))
    val (pk, pk2) = (draw(Gen.PartDomain), draw(Gen.PartDomain - 3))
    Seq(
      Query("order_point", table, s => s.table(table).filter(col("l_orderkey") === ok)),
      Query("order_range", table, s => s.table(table)
        .filter(col("l_orderkey").between(ok2, ok2 + 40))),
      Query("part_point", table, s => s.table(table).filter(col("l_partkey") === pk)),
      Query("part_range", table, s => s.table(table)
        .filter(col("l_partkey").between(pk2, pk2 + 3))))
  }

  /** An endless closed-loop order of (query, round): every round runs
    * each query `weight` times, in a seeded order.
    */
  def schedule(rnd: Random, qs: Seq[Query]): Iterator[(Query, Int)] =
    Iterator.from(0).flatMap(round =>
      rnd.shuffle(qs.flatMap(q => Seq.fill(q.weight)(q))).map(q => (q, round)))
}
