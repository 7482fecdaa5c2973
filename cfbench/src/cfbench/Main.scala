package cfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least 10 samples beyond it: the 11th
    * largest sample, and its percentile rank. With fewer than 11 samples
    * no percentile qualifies and the tail is the largest sample.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted(Ordering[Double].reverse)
    val i = math.min(10, s.size - 1)
    (s(i), 100.0 * (s.size - i - 1) / s.size)
  }
}

/** Entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints a human-readable report, then the result as one JSON line.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", "")
    require(Workloads.Names.contains(workload),
      s"unknown workload '$workload' (one of ${Workloads.Names.mkString(", ")})")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val work = new File(a("work"))

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, trace)
    val b = new Bench(spark, seed, work, tracer)
    val metrics = try {
      val out = workload match {
        case "scan_wide"       => Workloads.scanWide(b, seconds, sessionS)
        case "scan_many_files" => Workloads.scanManyFiles(b, seconds, sessionS)
      }
      if (trace) perLayer(b, out, new File(a("trace-out"))) else endToEnd(b, out)
    } finally spark.stop()
    report(workload, seed, b, metrics)
    val json = metrics.map { case (k, (v, unit)) =>
      s""""$k":{"value":${num(v)},"unit":"$unit"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${b.failed == 0},"attempted":${b.attempted},""" +
      s""""failed":${b.failed},"metrics":$json}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric is $v")
    else java.lang.Double.toString(v)

  private def report(workload: String, seed: Long, b: Bench,
      metrics: Seq[(String, (Double, String))]): Unit = {
    println(s"cfbench $workload seed=$seed attempted=${b.attempted} failed=${b.failed}")
    metrics.foreach { case (k, (v, unit)) => println(f"  $k%-36s $v%14.4f $unit") }
  }

  def session(work: File): SparkSession = {
    val spark = graft.GraftSessionDefaults(SparkSession.builder()
      .master("local[4]")
      .appName("cfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  private def endToEnd(b: Bench, o: Outcome): Seq[(String, (Double, String))] = {
    val (qTail, qPct) = Stats.tail(b.queryMs.toSeq)
    val (aTail, aPct) = Stats.tail(b.appendMs.toSeq)
    println(f"samples: ${b.queryMs.size} queries (query_tail_ms is p$qPct%.1f), " +
      f"${b.appendMs.size} appends (append_tail_ms is p$aPct%.1f)")
    b.shapeMs.foreach { case (shape, ms) =>
      println(f"  $shape%-16s p50 ${Stats.median(ms.toSeq)}%9.1f ms over ${ms.size} queries")
    }
    Seq(
      "setup_s" -> (o.setupS, "s"),
      "query_p50_ms" -> (Stats.median(b.queryMs.toSeq), "ms"),
      "query_tail_ms" -> (qTail, "ms"),
      "queries_per_s" -> (b.queryMs.size / b.queryLoopS, "1/s"),
      "append_p50_ms" -> (Stats.median(b.appendMs.toSeq), "ms"),
      "append_tail_ms" -> (aTail, "ms"),
      "ingest_rows_per_s" -> (b.appendedRows / b.appendPhaseS, "rows/s"),
      "compact_s" -> (Stats.median(b.compactS.toSeq), "s"),
      "sort_rows_per_s" -> (Stats.median(b.sortRowsPerS.toSeq), "rows/s"),
      "stored_bytes_per_user_byte" -> (o.storedBytes.toDouble / o.userBytes, "ratio"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
  }

  private def perLayer(b: Bench, o: Outcome, traceFile: File): Seq[(String, (Double, String))] = {
    val passes = (0 until 2).map(_ => FormatReplay.pass(o.replayFiles, 48L << 20, b.tracer))
    val r = passes.last
    b.log(s"format replay: ${r.files} files, ${r.chunks} chunks, ${r.blockBytes} block bytes")
    b.tracer.write(traceFile)
    b.log(s"trace written to $traceFile")
    val q = b.qTrace
    val w = b.wTrace
    val nq = q.queries.toDouble
    val self = b.tracer.selfMs
    val m = mutable.ArrayBuffer[(String, (Double, String))](
      "plan.ms" -> (q.planMs / nq, "ms"),
      "plan.input_partitions" -> (q.inputPartitions / nq, "count"),
      "plan.chunks_planned_ratio" -> (q.plannedRatio / nq, "ratio"),
      "scan.tasks" -> (q.tasks / nq, "count"),
      "scan.sched_wait_ms" -> (q.schedWaitMs / nq, "ms"),
      "scan.task_run_ms" -> (q.taskRunMs / nq, "ms"),
      "scan.task_cpu_ms" -> (q.taskCpuMs / nq, "ms"),
      "scan.chunks_read" -> (q.chunksRead / nq, "count"),
      "scan.chunks_skipped" -> (q.chunksSkipped / nq, "count"),
      "scan.decoded_bytes_per_row_out" ->
        (q.decodedBytes.toDouble / math.max(1L, q.rowsOut), "B/row"),
      "scan.gc_ms" -> (q.gcMs / nq, "ms"),
      "format.decompress_mb_per_s" -> (r.decompressMbPerS, "MB/s"),
      "format.decode_mb_per_s" -> (r.decodeMbPerS, "MB/s"),
      "format.encode_mb_per_s" -> (r.encodeMbPerS, "MB/s"),
      "format.compress_ratio" -> (r.compressRatio, "ratio"),
      "write.task_run_ms" -> (w.taskRunMs / w.appends, "ms"),
      "write.commit_ms" -> (w.commitMs / w.appends, "ms"),
      "write.files" -> (w.files.toDouble / w.appends, "count"),
      "write.chunks" -> (w.chunks.toDouble / w.appends, "count"),
      "write.bytes_per_user_byte_pre_compact" -> (Stats.median(w.preCompactRatios.toSeq), "ratio"),
      "tools.compact_ms" -> (w.compactMs / w.rounds, "ms"),
      "tools.sort_ms" -> (w.sortMs / w.rounds, "ms"),
      "tools.shuffle_bytes" -> (w.shuffleBytes.toDouble / w.rounds, "bytes"),
      "tools.spill_bytes" -> (w.spillBytes.toDouble / w.rounds, "bytes"),
      "trace.overhead_ms" ->
        (Stats.median(q.tracedMs.toSeq) - Stats.median(q.untracedMs.toSeq), "ms"))
    Seq("query", "plan", "execute", "task", "append", "write.save", "tools.compact",
      "tools.sort").foreach { n =>
      m += s"self.${n.replace('.', '_')}_ms" -> (self.getOrElse(n, 0.0), "ms")
    }
    m.toSeq
  }
}
