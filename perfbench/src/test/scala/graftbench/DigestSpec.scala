package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("digest-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def d(df: DataFrame): Digest = Digest.of(df.queryExecution)

  private def sample: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "a", 1.5, BigDecimal("10.25"), Seq(1, 2), Map("k" -> 1.0)),
      (2L, "b", -0.0, BigDecimal("0.00"), Seq.empty[Int], Map.empty[String, Double]),
      (3L, null, Double.NaN, null, null, null),
      (3L, null, Double.NaN, null, null, null), // a duplicate row counts twice
      (4L, "ü", 1e-300, BigDecimal("-7.5"), Seq(3), Map("z" -> 2.0)))
      .toDF("id", "s", "x", "m", "arr", "mp")
      .withColumn("m", col("m").cast("decimal(18,4)"))
      .withColumn("st", struct(col("id"), col("s")))
  }

  test("row order and partition count leave the digest unchanged") {
    val base = d(sample.coalesce(1))
    assert(base.rows == 5L)
    assert(d(sample.repartition(4)) == base)
    assert(d(sample.orderBy(desc("id"))) == base)
    assert(d(sample.repartition(3, col("id")).sortWithinPartitions(col("x"))) == base)
  }

  test("one changed cell changes the digest") {
    val base = d(sample)
    val changed = sample.withColumn("x",
      when(col("id") === 4L, lit(1e-300 * 2)).otherwise(col("x")))
    assert(d(changed) != base)
    assert(d(sample.withColumn("s",
      when(col("id") === 1L, lit("A")).otherwise(col("s")))) != base)
    assert(d(sample.withColumn("arr",
      when(col("id") === 1L, array(lit(2), lit(1))).otherwise(col("arr")))) != base)
  }

  test("doubles compare by their bits") {
    import spark.implicits._
    assert(d(Seq(0.0).toDF("x")) != d(Seq(-0.0).toDF("x")))
    assert(d(Seq(0.1 + 0.2).toDF("x")) != d(Seq(0.3).toDF("x")))
  }

  test("a dropped or duplicated row changes the digest") {
    val base = d(sample)
    assert(d(sample.filter(col("id") =!= 2L)) != base)
    assert(d(sample.union(sample.filter(col("id") === 2L))) != base)
  }

  test("an empty result has the empty digest") {
    assert(d(sample.filter(lit(false))) == Digest.empty)
  }
}
