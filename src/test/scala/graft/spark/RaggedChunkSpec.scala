package graft.spark

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.format.ColumnFileWriter

/** Ragged files — chunks where some columns are entirely absent (the
  * format allows it: rows are sparse (column, value) lists, reference
  * src/columnfile.h:63, and absent columns read back as NULL,
  * src/columnfile-reader.cc:416-445). Our own writer always writes every
  * leaf, but format-level writers and foreign files can be ragged, and
  * the scan must not lose rows or overcount on them.
  */
class RaggedChunkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("ragged-chunk-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = true),
    StructField("s", StringType, nullable = true)))

  /** chunk 1: both columns (ids 1-3); chunk 2: only id (ids 4-6). */
  private def writeRaggedTable(): String = {
    val dir = Files.createTempDirectory("cf-ragged").toString
    val f = new java.io.File(dir, "data.cf")
    val out = new java.io.FileOutputStream(f)
    val w = new ColumnFileWriter(out)
    (1L to 3L).foreach { i =>
      w.put(0, CellCodec.encode(LongType, i))
      w.put(1, UTF8String.fromString(s"v$i").getBytes)
    }
    w.flush()
    (4L to 6L).foreach(i => w.put(0, CellCodec.encode(LongType, i)))
    w.finish()
    out.close()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ColumnFileDataSource.SchemaSidecar),
      schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    dir
  }

  test("IS NULL filter matches rows of a chunk missing the filter column") {
    val dir = writeRaggedTable()
    val t = spark.read.format("columnfile").load(dir)
    assert(t.count() == 6)
    // the round-3 fix: chunk 2 has no 's' block at all, but its rows read
    // as s = NULL — the scan must not skip the chunk
    val gotNull = t.filter(col("s").isNull).collect()
    assert(gotNull.map(_.getLong(0)).sorted.toSeq == Seq(4L, 5L, 6L))
    assert(gotNull.forall(_.isNullAt(1)))
    val gotNotNull = t.filter(col("s").isNotNull).collect()
    assert(gotNotNull.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // value filters on the absent column still match nothing in chunk 2
    assert(t.filter(col("s") === "v2").count() == 1)
  }

  test("COUNT(col) pushdown bails when a non-empty chunk lacks a stats entry") {
    val sp = spark; import sp.implicits._
    val dir = Files.createTempDirectory("cf-raggedcount").toString
    (1L to 100L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartition(1)
      .write.format("columnfile").mode("overwrite").save(dir)
    val conf = new Configuration()
    val dataFile = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(ColumnFileDataSource.FileExtension)).head
    val p = new Path(dataFile.getAbsolutePath)
    // simulate a foreign/ragged sidecar: drop column 1's entry entirely
    val chunks = ChunkStatsIndex.read(conf, p).get
    ChunkStatsIndex.write(conf, p,
      chunks.map(c => c.copy(cols = c.cols - 1)))

    val t = spark.read.format("columnfile").load(dir)
    val agg = t.agg(count(col("s")), count(lit(1)))
    // without the entry we cannot prove the non-null count: no stats-only
    // plan, but the real scan still answers correctly
    assert(!agg.queryExecution.executedPlan.toString.contains("stats-only"))
    assert(agg.head.toSeq == Seq(100L, 100L))
    // MIN/MAX must bail identically — a missing entry may hide real values
    val mm = t.agg(min(col("s")), max(col("s")))
    assert(!mm.queryExecution.executedPlan.toString.contains("stats-only"))
    assert(mm.head.toSeq == Seq("v1", "v99"))
  }

  test("partially-ragged chunk: filter columns shorter than the chunk still match IS NULL") {
    val dir = Files.createTempDirectory("cf-ragged2").toString
    val f = new java.io.File(dir, "data.cf")
    val out = new java.io.FileOutputStream(f)
    val w = new ColumnFileWriter(out)
    // col 0 has 3 values; col 1 only 1 — rows 2 and 3 read s = NULL
    (1L to 3L).foreach(i => w.put(0, CellCodec.encode(LongType, i)))
    w.put(1, UTF8String.fromString("only").getBytes)
    w.finish()
    out.close()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ColumnFileDataSource.SchemaSidecar),
      schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val t = spark.read.format("columnfile").load(dir)
    assert(t.count() == 3) // exact count = max column length
    val gotNull = t.filter(col("s").isNull).collect()
    assert(gotNull.map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    assert(t.filter(col("s") === "only").collect().map(_.getLong(0)).toSeq ==
      Seq(1L))
  }

  test("survivor skip past a short column's end reads NULL, not a crash") {
    // col 0 has 10 values; col 1 only 2. A filter selecting only rows >= 8
    // makes the survivor fetch skip 7 cells on col 1 — 5 more than it has.
    // The skip must clamp at end-of-block and the column read as NULL
    // (projection-independent ragged semantics), not throw.
    def writeData(dir: String): Unit = {
      val f = new java.io.File(dir, "data.cf")
      val out = new java.io.FileOutputStream(f)
      val w = new ColumnFileWriter(out)
      (1L to 10L).foreach(i => w.put(0, CellCodec.encode(LongType, i)))
      (1L to 2L).foreach(i => w.put(1, UTF8String.fromString(s"v$i").getBytes))
      w.finish()
      out.close()
    }
    // flat atomic projection
    val dir1 = Files.createTempDirectory("cf-raggedskip-vec").toString
    writeData(dir1)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir1, ColumnFileDataSource.SchemaSidecar),
      schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val t1 = spark.read.format("columnfile").load(dir1)
    val got1 = t1.filter(col("id") >= 8L).collect()
    assert(got1.map(_.getLong(0)).sorted.toSeq == Seq(8L, 9L, 10L))
    assert(got1.forall(_.isNullAt(1)))

    // plus an array column the files do not hold (reads as NULL too)
    val dir2 = Files.createTempDirectory("cf-raggedskip-arr").toString
    writeData(dir2)
    val schema3 = StructType(schema.fields :+
      StructField("arr", ArrayType(LongType), nullable = true))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir2, ColumnFileDataSource.SchemaSidecar),
      schema3.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val t2 = spark.read.format("columnfile").load(dir2)
    val got2 = t2.filter(col("id") >= 8L).collect()
    assert(got2.map(_.getLong(0)).sorted.toSeq == Seq(8L, 9L, 10L))
    assert(got2.forall(r => r.isNullAt(1) && r.isNullAt(2)))
  }

  test("schema evolution: trailing-column adds read old files as NULL; narrower reads drop extras") {
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cf-evolve").toString

    // generation 1: (id, v)
    (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .write.format("columnfile").mode("overwrite").save(dir)
    // generation 2 appends with a NEW TRAILING column (score); the
    // schema sidecar now carries 3 fields, and gen-1 files simply lack
    // leaf 2 — the ragged semantics read it as NULL, which is exactly
    // the Parquet/Iceberg add-a-column contract (trailing adds only:
    // leaf mapping is positional, same as the reference's column
    // indices)
    (100 until 150).map(i => (i.toLong, s"v$i", i * 1.5))
      .toDF("id", "v", "score")
      .write.format("columnfile").mode("append").save(dir)

    val evolved = spark.read.format("columnfile").load(dir)
    assert(evolved.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    assert(evolved.count() == 150)
    assert(evolved.filter(org.apache.spark.sql.functions.col("score").isNull)
      .count() == 100, "gen-1 rows must read the new column as NULL")
    assert(evolved.filter(org.apache.spark.sql.functions.col("score").isNotNull)
      .agg(org.apache.spark.sql.functions.min("id")).head.getLong(0) == 100L)

    // a narrower user-supplied schema (the OLD shape) still reads every
    // file: the new trailing column is just never selected
    val narrow = spark.read.format("columnfile")
      .schema(org.apache.spark.sql.types.StructType(evolved.schema.fields.take(2)))
      .load(dir)
    assert(narrow.count() == 150)
    assert(narrow.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) ==
      (0L until 150L).sum)
  }

  test("schema evolution: widening reads (int32->int64, float->double)") {
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cf-widen").toString
    // old files: INT + FLOAT columns (with nulls)
    val old = (0 until 200).map(i =>
      (i.toLong, if (i % 9 == 0) None else Some(i - 100),
        if (i % 7 == 0) None else Some((i * 0.5).toFloat)))
      .toDF("id", "n", "x")
    assert(old.schema("n").dataType == IntegerType)
    assert(old.schema("x").dataType == FloatType)
    old.write.format("columnfile").mode("overwrite").save(dir)

    val widened = StructType(Seq(
      StructField("id", LongType, false),
      StructField("n", LongType, true),
      StructField("x", DoubleType, true)))
    val t = spark.read.format("columnfile").schema(widened).load(dir)
    assert(t.schema("n").dataType == LongType)
    // values are preserved exactly (float->double is value-exact)
    val got = t.orderBy("id").collect()
    got.foreach { r =>
      val i = r.getLong(0)
      if (i % 9 == 0) assert(r.isNullAt(1)) else assert(r.getLong(1) == i - 100)
      if (i % 7 == 0) assert(r.isNullAt(2))
      else assert(r.getDouble(2) == (i * 0.5).toFloat.toDouble)
    }
    // the columnar (batched) path serves the widened projection
    val plan = t.select("id", "n", "x").queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"widened read fell back:\n$plan")
    // pushed filters on the widened column evaluate and prune soundly
    assert(t.filter(col("n") === 50L).count() == 1)
    assert(t.filter(col("n") > 80L).count() ==
      (0 until 200).count(i => i % 9 != 0 && i - 100 > 80))
    // aggregate over the widened numeric matches the original values
    val sums = t.agg(sum("n"), sum("x")).head
    assert(sums.getLong(0) ==
      (0 until 200).filter(_ % 9 != 0).map(i => (i - 100).toLong).sum)

    // bitpacked old files (packed width 4 < read width 8) fall back to
    // the widened cell path and still read exactly
    val dir2 = java.nio.file.Files.createTempDirectory("cf-widen-bp").toString
    old.write.format("columnfile").option("bitpack", "true")
      .mode("overwrite").save(dir2)
    val t2 = spark.read.format("columnfile").schema(widened).load(dir2)
    assert(t2.agg(sum("n")).head.getLong(0) == sums.getLong(0))
    assert(t2.filter(col("n") === 50L).count() == 1)
  }

  test("corrupt or stale stats sidecars never break reads (fallback to header walk)") {
    val sp = spark; import sp.implicits._
    val dir = Files.createTempDirectory("cf-badstats").toString
    (0 until 5000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(1)
      .write.format("columnfile").option("targetChunkBytes", "8192")
      .mode("overwrite").save(dir)
    val sidecar = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(ChunkStatsIndex.Suffix)).head
    val good = java.nio.file.Files.readAllBytes(sidecar.toPath)
    def query(): (Long, Long) = {
      val t = spark.read.format("columnfile").load(dir)
      (t.filter(col("id") >= 4000).count(), t.count())
    }
    val expect = query()
    val corruptions: Seq[Array[Byte]] = Seq(
      Array[Byte](1, 2, 3),                     // garbage bytes
      good.take(good.length / 2),               // truncated JSON
      "[]".getBytes,                            // empty chunk list
      """{"len":1,"chunks":[]}""".getBytes,     // stale length
      """{"len":""".getBytes)                   // cut mid-token
    corruptions.foreach { bytes =>
      java.nio.file.Files.write(sidecar.toPath, bytes)
      assert(query() == expect, s"corrupt sidecar broke the read")
    }
    java.nio.file.Files.write(sidecar.toPath, good)
    assert(query() == expect)
  }

  test("job-level abort deletes partitioned task files and stats sidecars") {
    val sp = spark; import sp.implicits._
    val dir = Files.createTempDirectory("cf-abort").toString
    (1L to 10L).map(i => (i, s"g${i % 2}")).toDF("id", "g")
      .repartition(1)
      .write.format("columnfile").partitionBy("g").mode("overwrite").save(dir)
    // collect the files a committed partitioned write produced, then
    // drive the Write's abort path directly with its commit messages
    def allFiles(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c =>
        if (c.isDirectory) allFiles(c) else Seq(c))
    val dataFiles = allFiles(new java.io.File(dir))
      .filter(_.getName.endsWith(ColumnFileDataSource.FileExtension))
    assert(dataFiles.nonEmpty)
    val sidecars = allFiles(new java.io.File(dir))
      .filter(_.getName.endsWith(ChunkStatsIndex.Suffix))
    assert(sidecars.nonEmpty)

    val write = new ColumnFileWrite(dir,
      StructType(Seq(StructField("id", LongType), StructField("g", StringType))),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of()),
      new Configuration(), truncateFirst = false, Seq("g"))
    write.abort(Array(
      ColumnFilePartitionedCommitMessage(dataFiles.map(_.getAbsolutePath).toSeq)))

    val remaining = allFiles(new java.io.File(dir)).map(_.getName)
    assert(!remaining.exists(_.endsWith(ColumnFileDataSource.FileExtension)),
      s"data files survived abort: $remaining")
    assert(!remaining.exists(_.endsWith(ChunkStatsIndex.Suffix)),
      s"stats sidecars survived abort: $remaining")
  }
}
