package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `bitpack=true` write option: fixed-width numeric leaf columns go
  * through PackedIntColumnWriter (frame-of-reference + bit-packing).
  * Both reader paths must see identical data, filters must still push
  * down, and the on-disk size must shrink on id/timestamp-shaped data.
  */
class BitpackEncodingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("cf-bitpack-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def dirSize(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(ColumnFileDataSource.FileExtension))
      .map(_.length()).sum

  private def fixture = {
    val sp = spark; import sp.implicits._
    (0 until 20000).map { i =>
      (
        5000000000L + i,                        // sorted id: packs hard
        if (i % 11 == 0) null
        else java.lang.Long.valueOf(1700000000000L + (i % 97) * 1000L), // ts-like, nulls
        i % 1000,                               // narrow int
        1.5 + (i % 50) * 0.25,                  // double
        if (i % 13 == 0) null
        else java.lang.Float.valueOf((i % 30).toFloat / 4f),
        s"name_${i % 7}"                        // string: untouched by bitpack
      )
    }.toDF("id", "ts", "bucket", "price", "ratio", "name")
  }

  test("bitpack tables read back identically on both reader paths, with filters") {
    val df = fixture.cache()
    val plainDir = Files.createTempDirectory("cf-bp-plain").toString
    val packedDir = Files.createTempDirectory("cf-bp-packed").toString
    df.write.format("columnfile").mode("overwrite").save(plainDir)
    df.write.format("columnfile").option("bitpack", "true")
      .mode("overwrite").save(packedDir)

    val plain = spark.read.format("columnfile").load(plainDir)
    val packed = spark.read.format("columnfile").load(packedDir)

    // full-row equality, all columns
    assert(packed.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(packed).count() == 0)

    // pushed filters over packed columns (evaluated via FilterEval on
    // synthesized cells) agree with the plain table
    val preds = Seq(
      col("id") > 5000010000L && col("bucket") === 7,
      col("ts").isNull,
      col("price") <= 2.0,
      col("ratio").isNotNull && col("ratio") < 1.0f)
    preds.foreach { p =>
      assert(packed.filter(p).count() == plain.filter(p).count(), p.toString)
    }

    df.unpersist()
  }

  test("bitpack shrinks id/timestamp-shaped data on disk") {
    val df = fixture
    val plainDir = Files.createTempDirectory("cf-bp-size-plain").toString
    val packedDir = Files.createTempDirectory("cf-bp-size-packed").toString
    // compression off isolates the encoding's own effect
    df.repartition(1).write.format("columnfile")
      .option("compression", "none").mode("overwrite").save(plainDir)
    df.repartition(1).write.format("columnfile")
      .option("compression", "none").option("bitpack", "true")
      .mode("overwrite").save(packedDir)
    val (p, q) = (dirSize(plainDir), dirSize(packedDir))
    assert(q * 2 < p, s"expected >=2x shrink: bitpack $q vs plain $p bytes")
  }

  test("bitpack composes with dictionary and partitioned writes") {
    val sp = spark; import sp.implicits._
    val dir = Files.createTempDirectory("cf-bp-dict").toString
    val df = (0 until 5000)
      .map(i => (i.toLong * 3, s"g${i % 3}", s"lang_${i % 5}", i % 100))
      .toDF("id", "g", "lang", "n")
    df.write.format("columnfile")
      .option("bitpack", "true").option("dictionary", "true")
      .partitionBy("g").mode("overwrite").save(dir)
    val back = spark.read.format("columnfile").load(dir)
    assert(back.count() == 5000)
    assert(back.agg(sum("id"), sum("n")).head.toSeq ==
      df.agg(sum("id"), sum("n")).head.toSeq)
    assert(back.filter(col("g") === "g1" && col("lang") === "lang_2")
      .count() == df.filter(col("g") === "g1" && col("lang") === "lang_2").count())
  }

  test("bitpack round-trips under every compression codec") {
    val sp = spark; import sp.implicits._
    val df = (0 until 3000)
      .map(i => (9000000L + i, if (i % 9 == 0) null
        else java.lang.Double.valueOf(i * 0.125), i % 50))
      .toDF("id", "x", "b")
    for (codec <- Seq("none", "snappy", "lz4", "lzma", "zlib", "zstd")) {
      val dir = Files.createTempDirectory(s"cf-bp-codec-$codec").toString
      df.write.format("columnfile")
        .option("bitpack", "true").option("compression", codec)
        .mode("overwrite").save(dir)
      val back = spark.read.format("columnfile").load(dir)
      assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0,
        s"codec $codec")
    }
  }

  test("property: packed-path filter evaluation == per-cell evaluation (3k random cases)") {
    import graft.format.{ColumnDecoder, ColumnWriter, PackedIntColumnWriter}
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("x", LongType)))
    val idx = Map("x" -> 0)
    val rnd = new scala.util.Random(0xBEEF5)
    def le(v: Long): Array[Byte] =
      Array.tabulate(8)(k => ((v >>> (8 * k)) & 0xff).toByte)
    def randomFilter(): Filter = {
      def lit() = (rnd.nextInt(40) + 1000000L): java.lang.Long
      rnd.nextInt(8) match {
        case 0 => EqualTo("x", lit())
        case 1 => GreaterThan("x", lit())
        case 2 => LessThanOrEqual("x", lit())
        case 3 => In("x", Array(lit(), lit(), lit()))
        case 4 => IsNull("x")
        case 5 => IsNotNull("x")
        case 6 => Not(GreaterThan("x", lit()))
        case _ => Or(EqualTo("x", lit()), EqualTo("x", lit()))
      }
    }
    (1 to 3000).foreach { trial =>
      val values: Seq[Option[Long]] = Seq.fill(1 + rnd.nextInt(40))(
        if (rnd.nextInt(6) == 0) None else Some(1000000L + rnd.nextInt(40)))
      def feed(w: graft.format.ColumnSink): Unit = values.foreach {
        case Some(v) => w.put(le(v))
        case None    => w.putNull()
      }
      val pk = new PackedIntColumnWriter(8); feed(pk)
      val pl = new ColumnWriter; feed(pl)
      val bound = FilterEval.bind(randomFilter(), schema, idx).toArray
      val viaPacked = FilterEval.survivorBitmap(
        Map(0 -> new ColumnDecoder(pk.finishChunk())), bound, values.length)
      val viaPlain = FilterEval.survivorBitmap(
        Map(0 -> new ColumnDecoder(pl.finishChunk())), bound, values.length)
      assert(viaPacked == viaPlain,
        s"trial $trial: packed filter path diverged for values=$values")
    }
  }

  test("stats sidecar pruning still works on bitpack tables") {
    val sp = spark; import sp.implicits._
    val dir = Files.createTempDirectory("cf-bp-stats").toString
    (0 until 50000).map(i => (i.toLong, i % 500)).toDF("id", "b")
      .orderBy("id").repartition(4, col("id")).sortWithinPartitions("id")
      .write.format("columnfile").option("bitpack", "true")
      .option("targetChunkBytes", "4096").mode("overwrite").save(dir)
    val scan = spark.read.format("columnfile").load(dir)
      .filter(col("id") === 12345L)
    assert(scan.count() == 1)
    // aggregate pushdown (stats-only) unaffected by the encoding
    val agg = spark.read.format("columnfile").load(dir).agg(count(lit(1)))
    assert(agg.head.getLong(0) == 50000L)
  }
}
