package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Vectorized array/map reads: framed collection cells parse straight
  * into the batch's child element vectors, so embedding-style scans
  * (array<float> over millions of rows) stream through the columnar
  * path instead of per-row boxing. Nested collections (array of array,
  * array of struct, maps of structs), decimal and variant elements
  * vectorize recursively — the columnar reader is the only scan path.
  */
class CollectionVectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("collection-vector-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def columnar(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")

  test("array columns round-trip through the columnar path") {
    val sp = spark; import sp.implicits._
    val dir = Files.createTempDirectory("cf-vec-arr").toString
    val src = (0 until 5000).map { i =>
      val floats =
        if (i % 101 == 0) null
        else (0 until 8).map(d => (i * 8 + d) * 0.25f)
      val words =
        if (i % 97 == 0) Seq.empty[String]
        else Seq(s"w$i", null, s"x${i % 7}")
      (i.toLong, floats, words, Seq(i, i + 1), Seq(i % 2 == 0))
    }.toDF("id", "vec", "words", "ints", "flags")
    src.write.format("columnfile").mode("overwrite").save(dir)

    val back = spark.read.format("columnfile").load(dir)
    assert(columnar(back.select("id", "vec", "words", "ints", "flags")),
      "array projection should use the columnar reader")
    assert(back.count() == 5000)
    val diff = back.exceptAll(src).count() + src.exceptAll(back).count()
    assert(diff == 0, s"round-trip mismatch: $diff rows differ")

    // element-level reads: null arrays, empty arrays, null elements
    assert(back.where(col("vec").isNull).count() ==
      (0 until 5000).count(_ % 101 == 0))
    assert(back.where(size(col("words")) === 0).count() ==
      (0 until 5000).count(_ % 97 == 0))
    val r42 = back.where(col("id") === 42L).select("vec", "words").head
    assert(r42.getSeq[Float](0) == (0 until 8).map(d => (42 * 8 + d) * 0.25f))
    assert(r42.getSeq[String](1) == Seq("w42", null, "x0"))

    // a compute over the vectorized floats (the ANN scan shape)
    val norm = back.where(col("vec").isNotNull)
      .select(aggregate(col("vec"), lit(0.0d),
        (acc, x) => acc + x * x).as("n2"))
      .agg(sum("n2")).head.getDouble(0)
    val expect = (0 until 5000).filter(_ % 101 != 0).map { i =>
      (0 until 8).map(d => math.pow(((i * 8 + d) * 0.25f).toDouble, 2)).sum
    }.sum
    // summation order differs between engines; bound the relative error
    assert(math.abs(norm - expect) / expect < 1e-9)
  }

  test("map columns round-trip through the columnar path") {
    val sp = spark; import sp.implicits._
    val dir = Files.createTempDirectory("cf-vec-map").toString
    val src = (0 until 3000).map { i =>
      val m: Map[String, Long] =
        if (i % 53 == 0) Map.empty[String, Long]
        else Map(s"k${i % 5}" -> i.toLong, "c" -> (i % 7).toLong)
      val mv: Map[Long, String] = Map(i.toLong -> (if (i % 3 == 0) null else s"v$i"))
      (i.toLong, m, mv)
    }.toDF("id", "m", "mv")
    src.write.format("columnfile").mode("overwrite").save(dir)

    val back = spark.read.format("columnfile").load(dir)
    assert(columnar(back.select("id", "m", "mv")),
      "map projection should use the columnar reader")
    // map equality is order-sensitive in exceptAll; compare exploded
    val a = back.select(col("id"), explode_outer(col("m")))
    val b = src.select(col("id"), explode_outer(col("m")))
    assert(a.exceptAll(b).count() + b.exceptAll(a).count() == 0)
    assert(back.where(element_at(col("mv"), col("id")).isNull).count() ==
      (0 until 3000).count(_ % 3 == 0))
    assert(back.select(sum(element_at(col("m"), lit("c")))).head.getLong(0) ==
      (0 until 3000).filter(_ % 53 != 0).map(_ % 7).sum)
  }

  test("nested collections and decimal elements vectorize recursively") {
    val sp = spark; import sp.implicits._
    val dir = Files.createTempDirectory("cf-vec-nested").toString
    val src = (0 until 2000).map { i =>
      val aa =
        if (i % 37 == 0) Seq(null, Seq(i.toLong))
        else Seq(Seq(i.toLong, i + 1L), Seq.empty[Long])
      val dec =
        if (i % 41 == 0) Seq[BigDecimal](null)
        else Seq(BigDecimal(i).setScale(2), BigDecimal(-i).setScale(2))
      val structs = Seq((i, if (i % 11 == 0) null else s"s$i"))
      val bigdec = Seq(BigDecimal(s"$i.123456789012345678901"))
      (i.toLong, aa, dec, structs, bigdec)
    }.toDF("id", "aa", "dec", "st", "bd")
    src.write.format("columnfile").mode("overwrite").save(dir)
    val back = spark.read.format("columnfile").load(dir)
    assert(columnar(back.select("id", "aa")),
      "nested array should use the columnar reader")
    assert(columnar(back.select("id", "dec", "st", "bd")),
      "decimal/struct element arrays should use the columnar reader")
    val diff = back.exceptAll(src).count() + src.exceptAll(back).count()
    assert(diff == 0, s"round-trip mismatch: $diff rows differ")
    // element-level reads through the new appenders
    val r5 = back.where(col("id") === 5L).head
    assert(r5.getSeq[Seq[Long]](1) == Seq(Seq(5L, 6L), Seq.empty[Long]))
    assert(r5.getSeq[java.math.BigDecimal](2).map(BigDecimal(_)) ==
      Seq(BigDecimal(5).setScale(2), BigDecimal(-5).setScale(2)))
    assert(back.where(col("id") % 37 === 0)
      .where(col("aa").getItem(0).isNotNull).count() == 0)
  }

  test("variant columns vectorize; both readers agree") {
    val dir = Files.createTempDirectory("cf-vec-variant").toString
    spark.range(100)
      .selectExpr("id",
        "CASE WHEN id % 9 = 0 THEN NULL " +
          "ELSE parse_json(concat('{\"a\":', id, '}')) END AS v")
      .write.format("columnfile").mode("overwrite").save(dir)
    val back = spark.read.format("columnfile").load(dir)
    assert(columnar(back.select("id", "v")),
      "variant projection should use the columnar reader")
    def answer(df: org.apache.spark.sql.DataFrame): (Long, Long) = (
      df.selectExpr("sum(cast(variant_get(v, '$.a') AS BIGINT))").head.getLong(0),
      df.where(col("v").isNull).count())
    val vec = answer(back)
    assert(vec._1 == (0 until 100).filter(_ % 9 != 0).sum)
    assert(vec._2 == (0 until 100).count(_ % 9 == 0))
  }

  test("variant elements inside collections vectorize; both readers agree") {
    // variants as ARRAY elements, MAP values, and (via struct
    // shredding) struct fields all take the batched path
    val dir = Files.createTempDirectory("cf-vec-varel").toString
    spark.range(200)
      .selectExpr("id",
        "CASE WHEN id % 13 = 0 THEN NULL ELSE array(" +
          "parse_json(concat('{\"a\":', id, '}')), " +
          "CASE WHEN id % 7 = 0 THEN NULL " +
          "ELSE parse_json(concat('[', id, ']')) END) END AS va",
        "named_struct('tag', id % 5, " +
          "'v', parse_json(concat('{\"b\":', id * 2, '}'))) AS sv",
        "map(concat('k', id % 3), parse_json(cast(id AS STRING))) AS mv")
      .write.format("columnfile").mode("overwrite").save(dir)
    val back = spark.read.format("columnfile").load(dir)
    assert(columnar(back.select("id", "va", "sv", "mv")),
      "variant-in-collection projection should use the columnar reader")
    def answer(df: org.apache.spark.sql.DataFrame): (Long, Long, Long, Long, Long) = (
      df.selectExpr("sum(cast(variant_get(va[0], '$.a') AS BIGINT))").head.getLong(0),
      df.where(col("va").isNull).count(),
      df.selectExpr("count(1) FILTER (WHERE va IS NOT NULL AND va[1] IS NULL)").head.getLong(0),
      df.selectExpr("sum(cast(variant_get(sv.v, '$.b') AS BIGINT))").head.getLong(0),
      df.selectExpr("sum(cast(variant_get(map_values(mv)[0], '$') AS BIGINT))").head.getLong(0))
    val vec = answer(back)
    val live = (0 until 200).filter(_ % 13 != 0)
    assert(vec._1 == live.map(_.toLong).sum)
    assert(vec._2 == (0 until 200).count(_ % 13 == 0))
    assert(vec._3 == live.count(_ % 7 == 0))
    assert(vec._4 == (0 until 200).map(_.toLong * 2).sum)
    assert(vec._5 == (0 until 200).map(_.toLong).sum)
  }

  test("property: the columnar reader returns random nested data exactly") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(20260813L) // seeded: deterministic
    def maybe[T >: Null](gen: => T, nullEvery: Int): T =
      if (rnd.nextInt(nullEvery) == 0) null else gen
    val dir = Files.createTempDirectory("cf-vec-prop").toString
    val src = (0 until 3000).map { i =>
      val arrOfStruct = maybe(Seq.fill(rnd.nextInt(4))(
        maybe((rnd.nextInt(1000),
          maybe(s"s${rnd.nextInt(50)}", 5),
          Seq.fill(rnd.nextInt(3))(rnd.nextLong())), 7)), 11)
      val mapOfArr = maybe(Map(
        s"k${rnd.nextInt(3)}" -> Seq.fill(rnd.nextInt(3))(rnd.nextDouble())), 9)
      val decs = maybe(Seq.fill(rnd.nextInt(4))(
        maybe(BigDecimal(rnd.nextInt(1000000)).setScale(2)./(100), 6)), 8)
      val aa = maybe(Seq.fill(rnd.nextInt(3))(
        maybe(Seq.fill(rnd.nextInt(4))(rnd.nextInt()), 4)), 10)
      (i.toLong, arrOfStruct, mapOfArr, decs, aa)
    }.toDF("id", "st", "ma", "dec", "aa")
    src.write.format("columnfile").mode("overwrite").save(dir)

    val vec = spark.read.format("columnfile").load(dir)
    assert(columnar(vec.select("id", "st", "ma", "dec", "aa")))
    // maps are order-sensitive under exceptAll; compare them exploded,
    // everything else directly
    val flatCols = Seq("id", "st", "dec", "aa")
    val a = vec.select(flatCols.map(col): _*)
    val s = src.select(flatCols.map(col): _*)
    assert(a.exceptAll(s).count() + s.exceptAll(a).count() == 0,
      "columnar reader diverges from the written nested columns")
    val am = vec.select(col("id"), explode_outer(col("ma")))
    val sm = src.select(col("id"), explode_outer(col("ma")))
    assert(am.exceptAll(sm).count() + sm.exceptAll(am).count() == 0,
      "columnar reader diverges from the written map column")
  }

  test("fuzz: byte flips in nested cells read clean or throw CorruptColumnFileException") {
    // The columnar framed-cell parsers (arrays/maps/structs/decimals)
    // carry their own bounds checks; this asserts the same property the
    // format-layer MutationFuzzSpec pins for the chunk decoder — any
    // mutation either reads successfully (payload flips are legitimate
    // value changes; the format has no checksums, faithful to the
    // reference) or throws the clean corruption class. IndexOutOfBounds,
    // NegativeArraySize, OOM, or a hang is a parser bug.
    val sp = spark; import sp.implicits._
    val dir = Files.createTempDirectory("cf-vec-fuzz").toString
    (0 until 300).map(i => (i.toLong,
        Seq((i, s"s$i", Seq(i.toLong, i + 1L))),
        Map(s"k${i % 3}" -> Seq(i * 0.5, i * 0.25)),
        Seq(BigDecimal(i).setScale(2), BigDecimal(s"$i.12345678901234567890"))))
      .toDF("id", "st", "ma", "dec")
      .selectExpr("*", "parse_json(concat('{\"x\":', id, '}')) AS v")
      .repartition(1).write.format("columnfile").mode("overwrite").save(dir)
    val dataFile = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".cf")).head
    // drop Hadoop's local-FS .crc sidecars: they would reject the
    // mutated bytes before our parser ever sees them
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val orig = java.nio.file.Files.readAllBytes(dataFile.toPath)
    val rnd = new scala.util.Random(0xBEEFL)
    def corrupt(e: Throwable): Boolean = e != null &&
      (e.isInstanceOf[graft.format.CorruptColumnFileException] || corrupt(e.getCause))
    (0 until 80).foreach { _ =>
      val mut = orig.clone()
      val p = rnd.nextInt(mut.length)
      mut(p) = (mut(p) ^ (1 << rnd.nextInt(8))).toByte
      java.nio.file.Files.write(dataFile.toPath, mut)
      try { spark.read.format("columnfile").load(dir).collect(); () }
      catch { case t: Throwable =>
        assert(corrupt(t), s"unexpected failure class at byte $p: $t") }
    }
    java.nio.file.Files.write(dataFile.toPath, orig)
    ()
  }

  test("filters prune and late-materialize around vectorized arrays") {
    val sp = spark; import sp.implicits._
    val dir = Files.createTempDirectory("cf-vec-filter").toString
    (0 until 20000).map(i => (i.toLong, (0 until 4).map(d => i * 4 + d)))
      .toDF("id", "xs")
      .repartition(1).sortWithinPartitions("id")
      .write.format("columnfile").option("targetChunkBytes", "16384")
      .mode("overwrite").save(dir)
    val back = spark.read.format("columnfile").load(dir)
    val hit = back.where(col("id") >= 19990L)
    assert(columnar(hit))
    val got = hit.select("id", "xs").collect()
    assert(got.length == 10)
    assert(got.forall(r =>
      r.getSeq[Int](1) == (0 until 4).map(d => r.getLong(0).toInt * 4 + d)))
  }
}
