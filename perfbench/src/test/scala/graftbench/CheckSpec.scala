package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The result checker: equal results digest equally whatever their row
  * order or partitioning; one changed, dropped or repeated row does not.
  * Run with `sbt test` from perfbench/.
  */
class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def result: DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 200).map(i => (i.toLong, s"k$i", i * 0.1, Seq(i.toFloat, 0.5f), Map(s"m$i" -> i * 1.5)))
      .toDF("id", "name", "score", "vec", "attrs")
  }

  test("row order and partitioning do not change the digest") {
    val a = Check.digest(result)
    assert(a.rows == 200)
    assert(Check.digest(result.orderBy(desc("id")).repartition(7)) == a)
  }

  test("floating-point noise in the last bits is absorbed") {
    val noisy = result.withColumn("score", col("score") * (lit(1.0) + lit(1e-14)))
    assert(Check.digest(noisy) == Check.digest(result))
  }

  test("one perturbed row is rejected") {
    val base = Check.digest(result)
    val perturbed = Seq(
      result.withColumn("score", when(col("id") === 17, col("score") + 0.001).otherwise(col("score"))),
      result.withColumn("name", when(col("id") === 17, lit("x")).otherwise(col("name"))),
      result.withColumn("vec", when(col("id") === 17, array(lit(1f), lit(2f))).otherwise(col("vec"))),
      result.withColumn("attrs", when(col("id") === 17, map(lit("m17"), lit(0.0))).otherwise(col("attrs"))))
    perturbed.foreach(p => assert(Check.digest(p) != base))
  }

  test("a dropped or repeated row is rejected") {
    val base = Check.digest(result)
    assert(Check.digest(result.filter(col("id") =!= 3)) != base)
    assert(Check.digest(result.union(result.filter(col("id") === 3))) != base)
  }

  test("an empty result has a digest") {
    assert(Check.digest(result.limit(0)) == Check.Digest(0, "0:0"))
  }
}
