package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `dictionary=true` write option end to end: categorical string/binary
  * columns store a per-chunk value table + id runs. Reads are transparent
  * (dictionary ids land in the column vectors as-is — the
  * vector-dictionary fast path), filters/pushdown/stats behave
  * identically, and the file shrinks on categorical data.
  */
class DictionaryEncodingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("dict-encoding-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val langs = Seq("en", "de", "fr", "ja", "pt", "zz")
  // distinct-prefix source names: neither RLE (unsorted) nor front-coding
  // (no shared prefixes) helps — the dictionary's home turf
  private val sources = Seq("common_crawl_2024", "wikipedia_dumps",
    "github_repositories", "arxiv_fulltext", "stack_exchange_qa",
    "gutenberg_books", "pubmed_abstracts", "court_opinions",
    "patent_backgrounds", "subtitle_corpus", "news_archive",
    "forum_threads", "code_review_logs", "mailing_lists",
    "encyclopedia_misc", "translation_memories", "web_tables")

  private def sample(n: Int) = {
    val sp = spark; import sp.implicits._
    (0 until n).map { i =>
      (i.toLong, langs(i % langs.length),
        if (i % 11 == 0) null else sources(i % sources.length),
        s"unique_text_payload_$i")
    }.toDF("id", "lang", "source", "txt")
  }

  test("dictionary files read back exactly (columnar fast path), filters included") {
    val dir = Files.createTempDirectory("cf-dict").toString
    val df = sample(5000)
    df.repartition(2).write.format("columnfile")
      .option("dictionary", "true").option("targetChunkBytes", "65536")
      .mode("overwrite").save(dir)
    val back = spark.read.format("columnfile").load(dir)
    // full equality
    assert(back.count() == 5000)
    val diff = back.exceptAll(df).count() + df.exceptAll(back).count()
    assert(diff == 0, s"round-trip mismatch: $diff rows differ")
    // filter on a dict column evaluates task-side over dict blocks
    assert(back.filter(col("lang") === "de").count() ==
      (0 until 5000).count(i => langs(i % langs.length) == "de"))
    assert(back.filter(col("source").isNull).count() ==
      (0 until 5000).count(_ % 11 == 0))
    // group-by over the dict column
    val counts = back.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("en") == 5000 / 6 + (if (5000 % 6 > 0) 1 else 0))
    // stats-only aggregate still answered from sidecars
    val agg = back.agg(count(lit(1)), min("id"), max("id"))
    assert(agg.queryExecution.executedPlan.toString.contains("stats-only"))
    assert(agg.head.toSeq == Seq(5000L, 0L, 4999L))
  }

  test("nested projections map dictionary ids too") {
    val sp = spark; import sp.implicits._
    val dir = Files.createTempDirectory("cf-dict-nested").toString
    (0 until 1000).map(i =>
        (i.toLong, langs(i % langs.length), Seq(Seq(i.toLong, i + 1L))))
      .toDF("id", "lang", "aa")
      .write.format("columnfile").option("dictionary", "true")
      .mode("overwrite").save(dir)
    val back = spark.read.format("columnfile").load(dir)
    val proj = back.select("id", "lang", "aa")
    assert(proj.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "a nested projection must read through the columnar reader")
    val got = proj.filter(col("lang") === "fr").collect()
    assert(got.length == (0 until 1000).count(i => langs(i % langs.length) == "fr"))
    assert(got.forall(r => r.getSeq[Seq[Long]](2) ==
      Seq(Seq(r.getLong(0), r.getLong(0) + 1))))
  }

  test("filters on dict columns evaluate once per dictionary entry") {
    import graft.format.{ColumnDecoder, DictColumnWriter}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    // block: en en de NULL fr en  (dict-encoded)
    def block(): ColumnDecoder = {
      val w = new DictColumnWriter
      Seq("en", "en", "de").foreach(s => w.put(UTF8String.fromString(s).getBytes))
      w.putNull()
      Seq("fr", "en").foreach(s => w.put(UTF8String.fromString(s).getBytes))
      new ColumnDecoder(w.finishChunk())
    }
    val schema = StructType(Seq(StructField("lang", StringType)))
    val idx = Map("lang" -> 0)
    def bitmap(f: org.apache.spark.sql.sources.Filter): java.util.BitSet =
      FilterEval.survivorBitmap(Map(0 -> block()),
        FilterEval.bind(f, schema, idx).toArray, 6)
    // equality on a present value
    val en = bitmap(org.apache.spark.sql.sources.EqualTo("lang", "en"))
    assert((0 until 6).filter(en.get) == Seq(0, 1, 5))
    // a value NOT in the dictionary: unsatisfiable, bitmap empty (the
    // readers then skip the chunk before any row work)
    assert(bitmap(org.apache.spark.sql.sources.EqualTo("lang", "zz")).isEmpty)
    // NULL semantics preserved through the id path
    val nn = bitmap(org.apache.spark.sql.sources.IsNull("lang"))
    assert((0 until 6).filter(nn.get) == Seq(3))
    val notNull = bitmap(org.apache.spark.sql.sources.IsNotNull("lang"))
    assert((0 until 6).filter(notNull.get) == Seq(0, 1, 2, 4, 5))
  }

  test("property: dict-path filter evaluation == per-cell evaluation (5k random cases)") {
    import graft.format.{ColumnDecoder, ColumnWriter, DictColumnWriter}
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(20260812)
    val schema = StructType(Seq(StructField("s", StringType)))
    val idx = Map("s" -> 0)
    val pool = Seq("alpha", "beta", "gamma", "", "ALPHA", "alph", "alphabet",
      "éclair", "zzz", "a")
    def randomFilter(): Filter = {
      def lit() = pool(rnd.nextInt(pool.length))
      rnd.nextInt(9) match {
        case 0 => EqualTo("s", lit())
        case 1 => In("s", Array.fill(1 + rnd.nextInt(3))(lit(): Any))
        case 2 => GreaterThan("s", lit())
        case 3 => LessThanOrEqual("s", lit())
        case 4 => IsNull("s")
        case 5 => IsNotNull("s")
        case 6 => StringStartsWith("s", lit().take(1 + rnd.nextInt(3)))
        case 7 => StringContains("s", lit().take(2))
        case _ => Not(EqualTo("s", lit()))
      }
    }
    (1 to 5000).foreach { trial =>
      val values: Seq[Option[String]] = Seq.fill(1 + rnd.nextInt(40))(
        if (rnd.nextInt(6) == 0) None else Some(pool(rnd.nextInt(pool.length))))
      def feed(w: graft.format.ColumnSink): Unit = values.foreach {
        case Some(s) => w.put(UTF8String.fromString(s).getBytes)
        case None    => w.putNull()
      }
      val dw = new DictColumnWriter; feed(dw)
      val pw = new ColumnWriter; feed(pw)
      val bound = FilterEval.bind(randomFilter(), schema, idx).toArray
      val viaDict = FilterEval.survivorBitmap(
        Map(0 -> new ColumnDecoder(dw.finishChunk())), bound, values.length)
      val viaPlain = FilterEval.survivorBitmap(
        Map(0 -> new ColumnDecoder(pw.finishChunk())), bound, values.length)
      assert(viaDict == viaPlain,
        s"trial $trial: dict path diverged for values=$values")
    }
  }

  test("dictionary shrinks categorical tables on disk") {
    def size(dir: String): Long =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(ColumnFileDataSource.FileExtension))
        .map(_.length()).sum
    val plainDir = Files.createTempDirectory("cf-dict-off").toString
    val dictDir = Files.createTempDirectory("cf-dict-on").toString
    // uncompressed to isolate the encoding (lz4 would hide some gap);
    // categorical columns only — a unique id column would dominate both
    val cat = sample(20000).select("lang", "source")
    cat.repartition(1).write.format("columnfile")
      .option("compression", "none").mode("overwrite").save(plainDir)
    cat.repartition(1).write.format("columnfile")
      .option("compression", "none").option("dictionary", "true")
      .mode("overwrite").save(dictDir)
    val (p, d) = (size(plainDir), size(dictDir))
    assert(d * 2 < p, s"dict $d vs plain $p")
    val a = spark.read.format("columnfile").load(dictDir)
    val b = spark.read.format("columnfile").load(plainDir)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }
}
