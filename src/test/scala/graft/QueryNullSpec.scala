package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry queries over nullable inputs: each must keep its oracle's
  * SQL NULL semantics, which the generated test tables never exercise.
  */
class QueryNullSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("q33 drops a NULL o_totalprice like the oracle's two WHERE branches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-q33-null").toString
    Seq[(Long, Long, Option[Double])](
      (1L, 1L, Some(250000.0)),
      (2L, 2L, Some(100.0)),
      (3L, 2L, Some(300000.0)),
      (4L, 3L, None))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")

    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      df.select("tier", "n", "n_cust").as[(String, Long, Long)].collect().toSet

    val got = rows(SparkEntry.queries("q33_union_stats")(spark, dir))
    // NULL fails both `> 200000` and `<= 200000`: customer 3 is in no tier
    assert(got == Set(("hi", 2L, 2L), ("lo", 1L, 1L)))

    spark.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("orders")
    try {
      val oracle = spark.sql(SparkEntry.oracleSqlFor(dir)("q33_union_stats"))
      assert(got == rows(oracle))
    } finally spark.catalog.dropTempView("orders")
  }
}
