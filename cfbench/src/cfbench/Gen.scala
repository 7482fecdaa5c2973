package cfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs in the shape of the sf0.1 test tables.
  *
  * `lineitem` rows are a 600k-row base block (the sf0.1 lineitem row
  * count) repeated as key-shifted replicas, the way the engine's
  * scale-up harness derives larger tables: replica `r` adds
  * `r x domain` to every key column, so keys never collide across
  * replicas while value columns repeat. Every cell is a pure function of
  * (seed, row id) built from `xxhash64`, so the same seed gives the same
  * rows in any partitioning and on every evaluation.
  */
object Gen {
  val BaseRows: Long = 600000L
  val OrderDomain: Long = BaseRows / 4 + 1
  val PartDomain: Long = 20000L
  val SuppDomain: Long = 1000L
  /** 1992-01-01 and the seven years of ship dates after it. */
  private val ShipEpoch = 694224000L
  private val ShipDays = 2557L

  private def h(seed: Long, j: Column, k: Int): Column =
    xxhash64(lit(seed), j, lit(k))
  private def u(seed: Long, j: Column, k: Int, m: Long): Column =
    pmod(h(seed, j, k), lit(m))

  /** Rows `[first, first + n)` of the replicated lineitem table.
    * `sortedKeys`: `l_orderkey` rises with the row id (four lines per
    * order), so a range-partitioned write is sorted; otherwise orders
    * are scattered, the shape of an unsorted ingest stream.
    */
  def lineitem(spark: SparkSession, seed: Long, first: Long, n: Long,
      partitions: Int, sortedKeys: Boolean): DataFrame = {
    val id = col("id")
    val r = id.divide(lit(BaseRows)).cast("long")
    val j = pmod(id, lit(BaseRows))
    val order =
      if (sortedKeys) j.divide(lit(4)).cast("long")
      else u(seed, j, 0, OrderDomain)
    spark.range(first, first + n, 1, partitions).select(
      (lit(1L) + r * lit(OrderDomain) + order).as("l_orderkey"),
      (lit(1L) + r * lit(PartDomain) + u(seed, j, 1, PartDomain)).as("l_partkey"),
      (lit(1L) + r * lit(SuppDomain) + u(seed, j, 2, SuppDomain)).as("l_suppkey"),
      (lit(1) + pmod(j, lit(4))).cast("int").as("l_linenumber"),
      (lit(1) + u(seed, j, 3, 50)).cast("double").as("l_quantity"),
      ((lit(90000L) + u(seed, j, 4, 10000000L)) / lit(100.0)).as("l_extendedprice"),
      (u(seed, j, 5, 11) / lit(100.0)).as("l_discount"),
      (u(seed, j, 6, 9) / lit(100.0)).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (lit(1) + u(seed, j, 7, 3)).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (lit(1) + u(seed, j, 8, 2)).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(ShipEpoch) + u(seed, j, 9, ShipDays) * lit(86400L))
        .as("l_shipdate"))
  }

  /** Common words of the sf0.1 `documents` text; one word in eight is a
    * rare token `w<000-499>`, which gives substring filters a range of
    * selectivities.
    */
  val Vocab: Seq[String] = Seq("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "hash", "group",
    "agg", "filter", "query", "big", "slow", "key", "window", "row",
    "table", "stream", "merge", "data", "vector", "customer", "join")
  val RareTokens = 500
  val DocBase: Long = 5000L

  /** `documents`-shaped rows: replicas of a 5000-document base block with
    * shifted `doc_id`s, like [[lineitem]].
    */
  def documents(spark: SparkSession, seed: Long, replicas: Int,
      partitions: Int): DataFrame = {
    val vocab = Vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val j = s"pmod(id, $DocBase)"
    val word =
      s"if(pmod(xxhash64(${seed}L, $j, k, 1), 8) = 0, " +
        s"concat('w', lpad(cast(pmod(xxhash64(${seed}L, $j, k, 2), $RareTokens) as string), 3, '0')), " +
        s"element_at($vocab, cast(1 + pmod(xxhash64(${seed}L, $j, k, 3), ${Vocab.size}) as int)))"
    val nWords = s"cast(8 + pmod(xxhash64(${seed}L, $j, 10), 48) as int)"
    spark.range(0, replicas * DocBase, 1, partitions)
      .selectExpr(
        s"1 + id as doc_id",
        s"concat_ws(' ', transform(sequence(1, $nWords), k -> $word)) as text",
        s"element_at(array('en','de','fr','zh','es'), cast(1 + pmod(xxhash64(${seed}L, $j, 11), 5) as int)) as lang",
        s"concat('src', cast(pmod(xxhash64(${seed}L, $j, 12), 10) as string)) as source")
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Bytes the rows occupy as plain values: 8 per long/double/timestamp,
    * 4 per int, UTF-8 length per string — the denominator of every
    * bytes-per-user-byte ratio.
    */
  def userBytes(df: DataFrame): Long = {
    val widths: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType.typeName match {
        case "string"  => coalesce(octet_length(col(f.name)).cast("long"), lit(0L))
        case "integer" => lit(4L)
        case _         => lit(f.dataType.defaultSize.toLong)
      }
    }
    df.select(sum(widths.reduce(_ + _))).head().getLong(0)
  }
}
