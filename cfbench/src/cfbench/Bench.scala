package cfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.format.ColumnFileReader
import graft.spark.ColumnFileDataSource
import graft.tools.CfTools

/** Sums of the traced counters of the queries run so far. */
final class QueryTrace {
  var queries = 0
  var planMs, schedWaitMs, taskRunMs, taskCpuMs, gcMs = 0.0
  var tasks, inputPartitions, chunksRead, chunksSkipped, decodedBytes, rowsOut = 0L
  var plannedRatio = 0.0
  val tracedMs = mutable.ArrayBuffer.empty[Double]
  val untracedMs = mutable.ArrayBuffer.empty[Double]
}

/** Sums of the traced counters of appends and tool calls. */
final class WriteTrace {
  var appends = 0
  var taskRunMs, commitMs = 0.0
  var files, chunks = 0L
  var rounds = 0
  var compactMs, sortMs = 0.0
  var shuffleBytes, spillBytes = 0L
  val preCompactRatios = mutable.ArrayBuffer.empty[Double]
}

/** The shared harness of all workloads: operation accounting, the
  * closed-loop query client, and ingest rounds. Every operation that
  * throws or returns a wrong answer counts as failed, and never as a
  * sample.
  */
final class Bench(val spark: SparkSession, val seed: Long, val work: File,
    val tracer: Tracer) {
  val rnd = new Random(seed)
  var attempted = 0L
  var failed = 0L
  val queryMs = mutable.ArrayBuffer.empty[Double]
  val shapeMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var queryLoopS = 0.0
  val appendMs = mutable.ArrayBuffer.empty[Double]
  var appendedRows = 0L
  var appendPhaseS = 0.0
  val compactS = mutable.ArrayBuffer.empty[Double]
  val sortRowsPerS = mutable.ArrayBuffer.empty[Double]
  var qTrace = new QueryTrace
  var wTrace = new WriteTrace

  private val born = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[cfbench ${(System.nanoTime() - born) / 1e9}%6.1fs] $msg")

  /** Runs one operation; false when it threw or `body` said the answer
    * was wrong.
    */
  def op(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try body catch {
      case e: Exception =>
        log(s"$what threw: $e")
        false
    }
    if (!ok) {
      failed += 1
      log(s"$what FAILED")
    }
    ok
  }

  def dir(name: String): File = new File(work, name)

  def cf(path: String): DataFrame = spark.read.format("columnfile").load(path)

  def answer(df: DataFrame): Answer = Answer.of(Answer.summarize(df).collect())

  def dataFiles(path: String): Seq[File] =
    ColumnFileDataSource.listDataFiles(spark.sessionState.newHadoopConf(), Seq(path))
      .map(st => new File(st.getPath.toUri))

  def chunkCount(files: Seq[File]): Long = files.map { f =>
    ColumnFileReader.scanChunks(
      new graft.format.BytesInput(java.nio.file.Files.readAllBytes(f.toPath))).size.toLong
  }.sum

  /** Every byte under a table directory: data, sidecars, manifest, crc. */
  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else f.length()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
    ()
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Runs one query and checks its answer and that exactly one
    * columnfile scan ran. Returns its latency in ms when correct.
    */
  def query(q: Query, src: Source, expected: Answer, chunksOfTable: Long,
      traced: Boolean): Option[Double] = {
    var latency = 0.0
    val ok = op(s"query ${q.shape}") {
      val ((rows, df, planMs), group) = tracer.inGroup {
        val t0 = System.nanoTime()
        if (traced) tracer.span("query") {
          val (df, planMs) = tracer.span("plan") {
            val tp = System.nanoTime()
            val df = Answer.summarize(q.build(src))
            df.queryExecution.executedPlan
            (df, ms(tp))
          }
          val rows = tracer.span("execute")(df.collect())
          latency = ms(t0)
          (rows, df, planMs)
        } else {
          val df = Answer.summarize(q.build(src))
          val rows = df.collect()
          latency = ms(t0)
          (rows, df, 0.0)
        }
      }
      val c = PlanProbe.scans(df)
      if (c.scans != 1) log(s"query ${q.shape}: expected 1 columnfile scan, ran ${c.scans}")
      if (traced) {
        val t = qTrace
        val tasks = tracer.listener.tasksOf(group)
        t.queries += 1
        t.planMs += planMs
        t.tasks += tasks.size
        t.schedWaitMs += tasks.map(x => x.schedDelayMs + x.deserializeMs).sum
        t.taskRunMs += tasks.map(_.runMs).sum
        t.taskCpuMs += tasks.map(_.cpuNs).sum / 1e6
        t.gcMs += tasks.map(_.gcMs).sum
        t.inputPartitions += c.inputPartitions
        t.plannedRatio += c.chunksPlanned.toDouble / chunksOfTable
        t.chunksRead += c.chunksRead
        t.chunksSkipped += c.chunksSkipped
        t.decodedBytes += c.decodedBytes
        t.rowsOut += c.rowsOut
      }
      c.scans == 1 && Answer.of(rows) == expected
    }
    if (ok) Some(latency) else None
  }

  /** Closed loop of one client over `qs` until `deadline` (nanoTime) and
    * at least `minQueries` queries, stopping only after a complete round
    * so every shape has its share of the samples: with shapes of
    * different cost, an unbalanced mix would move the median from one
    * shape's latency to another's. Timed latencies land in `queryMs`; a
    * traced run times alternate rounds traced and untraced.
    */
  def queryLoop(qs: Seq[Query], src: Source, expected: Map[Query, Answer],
      chunks: Map[String, Long], deadline: Long, minQueries: Int,
      traceRounds: Boolean): Unit = {
    val it = Queries.schedule(rnd, qs)
    val round = qs.map(_.weight).sum
    val t0 = System.nanoTime()
    var n = 0
    while (System.nanoTime() < deadline || n < minQueries || n % round != 0) {
      val (q, r) = it.next()
      val traced = traceRounds && r % 2 == 0
      query(q, src, expected(q), chunks(q.table), traced).foreach { l =>
        if (!traceRounds) {
          queryMs += l
          shapeMs.getOrElseUpdate(q.shape, mutable.ArrayBuffer.empty) += l
        }
        else if (traced) qTrace.tracedMs += l
        else qTrace.untracedMs += l
      }
      n += 1
    }
    queryLoopS += (System.nanoTime() - t0) / 1e9
  }

  /** Expected answers: each query over the parquet twin. */
  def expected(qs: Seq[Query], twin: Source): Map[Query, Answer] =
    qs.map(q => q -> answer(q.build(twin))).toMap

  /** Runs every query once, checked but not timed. */
  def warmUp(qs: Seq[Query], src: Source, expected: Map[Query, Answer],
      chunks: Map[String, Long]): Unit =
    qs.foreach(q => query(q, src, expected(q), chunks(q.table), traced = false))

  /** The seeded ingest input: distinct batches with scattered order
    * keys, collected to the driver so an append writes rows that are
    * already generated, and the answer and user bytes of their union.
    */
  final class IngestInput(val batches: IndexedSeq[DataFrame], val rows: Long,
      val userBytes: Long, val expected: Answer)

  def ingestInput(batches: Int, batchRows: Int): IngestInput = {
    val all = Gen.lineitem(spark, seed ^ 0x5eedL, 0, batches.toLong * batchRows, 4,
      sortedKeys = false)
    // collect keeps the range partitions' order: row i of the result is id i
    val rows = all.collect()
    val dfs = rows.grouped(batchRows).map(b =>
      spark.createDataFrame(java.util.Arrays.asList(b: _*), all.schema)).toIndexedSeq
    new IngestInput(dfs, rows.length.toLong, Gen.userBytes(all), answer(all))
  }

  /** One ingest round into the fresh directory `name`: the seeded appends, then
    * `CfTools.compact` with `sortWithinBy`, then `CfTools.sort` plus
    * `writeSorted`, each checked against the generated input.
    */
  def ingestRound(in: IngestInput, name: String): Unit = {
    val batchRows = in.rows / in.batches.size
    val Seq(table, compacted, sorted) =
      Seq("appended", "compacted", "sorted").map(t => new File(dir(name), t).getPath)
    val t0 = System.nanoTime()
    in.batches.zipWithIndex.foreach { case (b, i) =>
      val before = if (tracer.enabled) dataFiles(table).toSet else Set.empty[File]
      var l = 0.0
      val (ok, group) = tracer.inGroup {
        op(s"append $i") {
          val ta = System.nanoTime()
          tracer.span("append") {
            tracer.span("write.save") {
              b.write.format("columnfile").mode("append").save(table)
            }
          }
          l = ms(ta)
          true
        }
      }
      if (ok) {
        appendMs += l
        appendedRows += batchRows
      }
      if (tracer.enabled && ok) {
        val tasks = tracer.listener.tasksOf(group)
        val fresh = dataFiles(table).filterNot(before)
        wTrace.appends += 1
        wTrace.taskRunMs += tasks.map(_.runMs).sum
        wTrace.commitMs += l - tracer.listener.stageWallMs(group)
        wTrace.files += fresh.size
        wTrace.chunks += chunkCount(fresh)
      }
    }
    appendPhaseS += (System.nanoTime() - t0) / 1e9
    if (tracer.enabled)
      wTrace.preCompactRatios += dirBytes(new File(table)).toDouble / in.userBytes
    op("check appended")(answer(cf(table)) == in.expected)

    // a tool call in its own job group and span; returns its wall ms
    def tool(span: String)(body: => Unit): Double = {
      val (t, group) = tracer.inGroup {
        val t0 = System.nanoTime()
        tracer.span(span)(body)
        ms(t0)
      }
      if (tracer.enabled) {
        val tasks = tracer.listener.tasksOf(group)
        wTrace.shuffleBytes += tasks.map(_.shuffleWriteBytes).sum
        wTrace.spillBytes += tasks.map(_.spillBytes).sum
      }
      t
    }
    op("compact") {
      val t = tool("tools.compact") {
        CfTools.compact(spark, table, compacted, sortWithinBy = Seq("l_orderkey"))
      }
      wTrace.compactMs += t
      val ok = answer(cf(compacted)) == in.expected
      if (ok) compactS += t / 1e3
      ok
    }
    op("sort") {
      val t = tool("tools.sort") {
        CfTools.writeSorted(CfTools.sort(spark, Seq(compacted), keys = Seq("l_orderkey")),
          sorted, keys = Seq("l_orderkey"))
      }
      wTrace.sortMs += t
      val (got, ordered) = sortedAnswer(sorted)
      val ok = got == in.expected && ordered
      if (ok) sortRowsPerS += in.rows / (t / 1e3)
      ok
    }
    wTrace.rounds += 1
  }

  /** The answer of a table read in scan order, and whether it is sorted
    * by `l_orderkey` across all its partitions, from one pass.
    */
  def sortedAnswer(path: String): (Answer, Boolean) = {
    val df = cf(path)
    val parts = df.select(col("l_orderkey"), Answer.rowHash(df)).rdd.mapPartitions { it =>
      var (first, last, n, hash, sorted) = (0L, 0L, 0L, 0L, true)
      it.foreach { r =>
        val k = r.getLong(0)
        if (n == 0) first = k else if (k < last) sorted = false
        last = k
        n += 1
        hash += r.getLong(1)
      }
      Iterator((first, last, n, hash, sorted))
    }.collect().filter(_._3 > 0)
    (Answer(parts.map(_._3).sum, parts.map(_._4).sum),
      parts.forall(_._5) && parts.sliding(2).forall(p => p.length < 2 || p(0)._2 <= p(1)._1))
  }
}
