package graft.spark

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `onCorrupt=skip` read option: a chunk whose decode proves corrupt is
  * dropped and counted (`cfCorruptChunks`) instead of failing the scan —
  * the opt-in, observable trade for backfills over aging storage. The
  * default stays fail-fast, and an unknown option value is rejected.
  */
class PermissiveScanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("permissive-scan-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** One multi-chunk .cf file (with stats sidecar, so planning never
    * touches the data bytes) whose SECOND chunk's header is garbage.
    * Returns (dir, total rows, corrupted chunk's rows).
    */
  private def corruptedTable(): (String, Long, Long) = {
    val sp = spark; import sp.implicits._
    val dir = Files.createTempDirectory("cf-permissive").toString
    (0 until 20000).map(i => (i.toLong, s"v$i", Seq(i.toLong, i + 1L),
        Seq(Seq(i.toLong))))
      .toDF("id", "v", "arr", "aa")
      .repartition(1).sortWithinPartitions("id")
      .write.format("columnfile").option("targetChunkBytes", "16384")
      .mode("overwrite").save(dir)

    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".cf")).head
    val conf = new Configuration(false)
    val stats = ChunkStatsIndex.read(conf,
      new org.apache.hadoop.fs.Path(f.getPath)).get
    assert(stats.length >= 3, s"need >=3 chunks, got ${stats.length}")
    val victim = stats(1)
    val raf = new java.io.RandomAccessFile(f, "rw")
    try {
      raf.seek(victim.off)
      raf.write(Array.fill[Byte](4)(0xFF.toByte)) // header parse must fail
    } finally raf.close()
    // drop Hadoop's local-FS .crc siblings: they'd flag the edit as a
    // ChecksumException (an IO error, deliberately NOT skippable) before
    // our decoder ever sees the bytes
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".crc")).foreach(_.delete())
    (dir, stats.map(_.rows).sum, victim.rows)
  }

  test("default read fails fast on the corrupt chunk") {
    val (dir, _, _) = corruptedTable()
    val ex = intercept[Exception] {
      // a row-returning read (count() alone would be answered from the
      // stats sidecar without touching the corrupt bytes)
      spark.read.format("columnfile").load(dir).select("id", "v").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(e => e +: chain(e.getCause))
    assert(chain(ex).exists(
      _.isInstanceOf[graft.format.CorruptColumnFileException]),
      s"expected CorruptColumnFileException in cause chain: $ex")
  }

  test("onCorrupt=skip drops exactly the corrupt chunk (columnar path)") {
    val (dir, total, victimRows) = corruptedTable()
    val df = spark.read.format("columnfile").option("onCorrupt", "skip")
      .load(dir).select("id", "v")
    assert(df.count() == total - victimRows)
    // surviving rows decode correctly around the hole
    assert(df.agg(min("id"), max("id")).collect()(0).toSeq ==
      Seq(0L, 19999L))
  }

  test("onCorrupt=skip drops exactly the corrupt chunk (nested projection)") {
    val (dir, total, victimRows) = corruptedTable()
    val df = spark.read.format("columnfile").option("onCorrupt", "skip")
      .load(dir).select("id", "aa")
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "a nested projection must read through the columnar reader")
    assert(df.count() == total - victimRows)
    assert(df.where(size(col("aa")) =!= 1).count() == 0)
  }

  test("filters still evaluate on surviving chunks under skip") {
    val (dir, _, _) = corruptedTable()
    val df = spark.read.format("columnfile").option("onCorrupt", "skip")
      .load(dir).where(col("id") >= 19900L)
    assert(df.count() == 100)
  }

  test("unknown onCorrupt value is rejected") {
    val (dir, _, _) = corruptedTable()
    val ex = intercept[Exception] {
      spark.read.format("columnfile").option("onCorrupt", "lenient")
        .load(dir).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("onCorrupt")), s"got: $ex")
  }
}
