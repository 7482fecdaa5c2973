package cfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** What a workload hands back for the metrics: its set-up time, the
  * footprint of its final tables, and the files the traced run replays
  * through the format layer.
  */
final case class Outcome(setupS: Double, storedBytes: Long, userBytes: Long,
    replayFiles: Seq[File])

/** Workload sizes; the README says why each is what it is. */
object Sizes {
  val WideReplicas = 2
  val TextReplicas = 10
  val ManyFiles = 160
  /** Queries per run at least, so the tail has enough samples beyond it. */
  val MinQueries = 24
  val Appends = 8
  val BatchRows = 5000
  val IngestRounds = 3
}

/** The workloads. Each builds its tables from the seed, runs its query
  * loop for the measured seconds, then the same small ingest phase, so
  * every end-to-end metric exists on every workload while the scan
  * layers do most of their work in a different one.
  */
object Workloads {
  val Names: Seq[String] = Seq("scan_wide", "scan_many_files")

  /** Table builds per run; set-up time reports their median. */
  val Builds = 3

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `build` into a fresh directory [[Builds]] times and keeps the
    * last one. Returns its directory and the median build time in seconds.
    */
  private def timedBuilds(b: Bench)(build: File => Unit): (File, Double) = {
    val times = (0 until Builds).map { i =>
      val (_, s) = seconds(build(b.dir(s"build_$i")))
      if (i > 0) b.deleteTree(b.dir(s"build_${i - 1}"))
      s
    }
    b.log(f"builds: ${times.map(t => f"$t%.2f").mkString(", ")} s")
    (b.dir(s"build_${Builds - 1}"), Stats.median(times))
  }

  private def deadline(measureS: Int): Long = System.nanoTime() + measureS * 1000000000L

  /** A table of a scan workload: its generated rows and how to write them. */
  private final case class Table(rows: () => DataFrame, write: (DataFrame, String) => Unit)

  /** The common course of the scan workloads: build the tables, write
    * their parquet twins and the expected answers, warm up, run the
    * closed query loop, then the small ingest phase.
    */
  private def scan(b: Bench, measureS: Int, sessionS: Double,
      tables: Map[String, Table], queries: Seq[Query], replay: String): Outcome = {
    val spark = b.spark
    val (d, buildS) = timedBuilds(b) { d =>
      tables.foreach { case (n, t) => t.write(t.rows(), new File(d, n).getPath) }
    }
    val paths = tables.keys.map(n => n -> new File(d, n).getPath).toMap
    val twinPaths = tables.keys.map(n => n -> b.dir(s"twin_$n").getPath).toMap
    tables.foreach { case (n, t) => t.rows().write.mode("overwrite").parquet(twinPaths(n)) }
    val src = new Source(spark, "columnfile", paths)
    val chunks = paths.map { case (n, p) => n -> b.chunkCount(b.dataFiles(p)) }
    val expected = b.expected(queries, new Source(spark, "parquet", twinPaths))
    val (_, warmS) = seconds(b.warmUp(queries, src, expected, chunks))
    b.log("set up")

    b.queryLoop(queries, src, expected, chunks, deadline(measureS), Sizes.MinQueries,
      b.tracer.enabled)
    b.log("query loop done")
    ingestPhase(b)
    Outcome(sessionS + buildS + warmS,
      paths.values.map(p => b.dirBytes(new File(p))).sum,
      twinPaths.values.map(p => Gen.userBytes(spark.read.parquet(p))).sum,
      b.dataFiles(paths(replay)))
  }

  /** Few large files, decode-bound: a sorted, `sortedBy`-stamped
    * lineitem table plus a text table, under the five scan shapes.
    */
  def scanWide(b: Bench, measureS: Int, sessionS: Double): Outcome = {
    val rows = Sizes.WideReplicas * Gen.BaseRows
    scan(b, measureS, sessionS, Map(
      "wide" -> Table(() => Gen.lineitem(b.spark, b.seed, 0, rows, 4, sortedKeys = true),
        (df, p) => df.write.format("columnfile").option("sortedBy", "l_orderkey")
          .mode("overwrite").save(p)),
      "text" -> Table(() => Gen.documents(b.spark, b.seed, Sizes.TextReplicas, 4),
        (df, p) => df.write.format("columnfile").mode("overwrite").save(p))),
      Queries.wide(b.rnd, rows), replay = "wide")
  }

  /** Many small files, planning- and task-overhead-bound: the base
    * lineitem block hash-distributed over many files, each sorted on its
    * own, under point and short-range lookups.
    */
  def scanManyFiles(b: Bench, measureS: Int, sessionS: Double): Outcome = {
    scan(b, measureS, sessionS, Map(
      "many" -> Table(() => Gen.lineitem(b.spark, b.seed, 0, Gen.BaseRows, 4, sortedKeys = true),
        (df, p) => df.repartition(Sizes.ManyFiles, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey")
          .write.format("columnfile").mode("overwrite").save(p))),
      Queries.lookups(b.rnd, "many"), replay = "many")
  }

  /** The ingest phase: rounds of the same seeded appends into a fresh
    * table, then compaction and sort. Several short rounds give each of
    * compaction and sort a median instead of a single sample.
    */
  private def ingestPhase(b: Bench): Unit = {
    val in = b.ingestInput(Sizes.Appends, Sizes.BatchRows)
    (1 to Sizes.IngestRounds).foreach { r =>
      b.ingestRound(in, s"ingest_$r")
      b.deleteTree(b.dir(s"ingest_$r"))
    }
  }
}
