package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Types the cell codec has no value encoding for (`void`, intervals)
  * still scan as long as every cell is absent or NULL: a `void` column
  * or `void` collection element writes as null cells, and a declared
  * column the files do not hold reads as NULL whatever its type. Only a
  * PRESENT cell of such a type fails, with the codec's
  * `columnfile: unsupported type` error.
  */
class UnstorableTypeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("unstorable-type-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(): String =
    Files.createTempDirectory("cf-unstorable").toString

  test("a void column writes and reads back as NULL") {
    val dir = tmpDir()
    spark.range(3).selectExpr("id", "null AS n")
      .write.format("columnfile").mode("overwrite").save(dir)
    val back = spark.read.format("columnfile").load(dir)
    assert(back.schema("n").dataType == NullType)
    assert(back.orderBy("id").collect().map(_.toString).toSeq ==
      Seq("[0,null]", "[1,null]", "[2,null]"))
  }

  test("array<void> and map<string,void> with null elements round-trip") {
    val dir = tmpDir()
    spark.range(4)
      .selectExpr("id",
        "CASE WHEN id = 3 THEN NULL ELSE array(null, null) END AS av",
        "map('k', null) AS mv")
      .write.format("columnfile").mode("overwrite").save(dir)
    val back = spark.read.format("columnfile").load(dir)
    assert(back.schema("av").dataType == ArrayType(NullType, containsNull = true))
    assert(back.schema("mv").dataType.asInstanceOf[MapType].valueType == NullType)
    val rows = back.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    rows.take(3).foreach { r =>
      assert(r.getSeq[Any](1) == Seq(null, null))
      assert(r.getMap[String, Any](2) == Map("k" -> null))
    }
    assert(rows(3).isNullAt(1))
    assert(rows(3).getMap[String, Any](2) == Map("k" -> null))
  }

  test("a declared column the files do not hold reads as NULL, even of an unstorable type") {
    val dir = tmpDir()
    spark.range(5).selectExpr("id", "CAST(id AS STRING) AS s")
      .write.format("columnfile").mode("overwrite").save(dir)
    val back = spark.read.format("columnfile")
      .schema("id bigint, s string, z interval day to second").load(dir)
    val rows = back.orderBy("id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      (0L until 5L).map(i => (i, i.toString)))
    assert(rows.forall(_.isNullAt(2)))
  }

  test("a present cell of an unstorable type fails with the codec's error") {
    val dir = tmpDir()
    spark.range(5).selectExpr("id", "CAST(id AS STRING) AS z")
      .write.format("columnfile").mode("overwrite").save(dir)
    val ex = intercept[Exception] {
      spark.read.format("columnfile")
        .schema("id bigint, z interval day to second").load(dir).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(e => e +: chain(e.getCause))
    assert(chain(ex).exists(e => e.isInstanceOf[UnsupportedOperationException] &&
      e.getMessage.startsWith("columnfile: unsupported type")), s"got: $ex")
  }
}
