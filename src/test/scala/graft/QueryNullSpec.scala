package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.withTempDir

/** SparkEntry queries over nullable inputs: each must keep its oracle's
  * SQL NULL semantics, which the generated test tables never exercise.
  */
class QueryNullSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Runs `f` with `table` read from `dir` as a temp view. */
  private def withView[A](dir: String, table: String)(f: => A): A = {
    spark.read.parquet(s"$dir/$table.parquet").createOrReplaceTempView(table)
    try f finally spark.catalog.dropTempView(table)
  }

  test("q33 drops a NULL o_totalprice like the oracle's two WHERE branches") {
    import spark.implicits._
    withTempDir("graft-q33-null") { dir =>
      Seq[(Long, Long, Option[Double])](
        (1L, 1L, Some(250000.0)),
        (2L, 2L, Some(100.0)),
        (3L, 2L, Some(300000.0)),
        (4L, 3L, None))
        .toDF("o_orderkey", "o_custkey", "o_totalprice")
        .write.parquet(s"$dir/orders.parquet")

      def rows(df: DataFrame): Set[(String, Long, Long)] =
        df.select("tier", "n", "n_cust").as[(String, Long, Long)].collect().toSet

      val got = rows(SparkEntry.queries("q33_union_stats")(spark, dir))
      // NULL fails both `> 200000` and `<= 200000`: customer 3 is in no tier
      assert(got == Set(("hi", 2L, 2L), ("lo", 1L, 1L)))
      withView(dir, "orders") {
        assert(got == rows(spark.sql(
          SparkEntry.oracleSqlFor(dir)("q33_union_stats"))))
      }
    }
  }

  test("q28 and q44 extract a NULL text as the empty turn") {
    import spark.implicits._
    withTempDir("graft-extract-null") { dir =>
      Seq[(Long, Option[String])](
        (1L, Some("key agg row scan slow fast table value part hash")),
        (2L, None),
        (3L, Some("batch window spark order data column agg join")))
        .toDF("doc_id", "text")
        .write.parquet(s"$dir/documents.parquet")
      def run(q: String): DataFrame = SparkEntry.queries(q)(spark, dir)
      def oracle(q: String): DataFrame =
        spark.sql(SparkEntry.oracleSqlFor(dir)(q))

      def paras(df: DataFrame): Map[Long, (Int, Option[Int])] =
        df.as[(Long, Int, Option[Int])].collect()
          .map { case (id, n, len) => id -> (n, len) }.toMap
      val q28 = paras(run("q28_extract_documents"))
      assert(q28(2L) == ((0, Some(0))))
      def spans(df: DataFrame): Set[(Long, String, Int, Int)] =
        df.as[(Long, String, Int, Int)].collect().toSet
      val q44 = spans(run("q44_extract_spans"))
      withView(dir, "documents") {
        // the oracle's CASE reads the NULL row as (1, NULL): prose only
        assert(q28 - 2L == paras(oracle("q28_extract_documents")) - 2L)
        // the oracle's `trim(text) <> ''` drops the NULL row
        assert(q44 == spans(oracle("q44_extract_spans")))
        assert(q44.map(_._1) == Set(1L, 3L))
      }
    }
  }

  test("q22 puts NULL and blank texts in no SimHash pair or group") {
    import spark.implicits._
    val prose = "key agg row scan slow fast table value part hash join"
    val docs = Seq[(Long, Option[String])](
      (2L, None), // self-dupped by q22: its copy is NULL too
      (51L, Some(prose)),
      (52L, Some(prose.toUpperCase.replace(" ", "  "))), // planted pair
      (53L, Some("batch window spark order data column agg merge vector")),
      (54L, None),
      (55L, Some("")),
      (56L, Some(" \t ")),
      (57L, Some("\n")))
    withTempDir("graft-q22-null") { dir =>
      docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("q22_simhash_neardups")(spark, dir)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // the oracle's closed form: all pairs at hamming <= 3 among the
      // documents that have tokens
      val sigs = docs.collect { case (id, Some(t)) if t.trim.nonEmpty =>
        id -> graft.operators.Dedup.simhash64(
          t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq)
      }
      val want = (for {
        (a, sa) <- sigs; (b, sb) <- sigs
        if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
      } yield (a, b)).toSet
      assert(want.contains((51L, 52L)))
      assert(got == want, got)
    }
    val groups = graft.operators.Dedup.simhashNearDupGroups(
        docs.toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(groups.keySet.intersect(Set(2L, 54L, 55L, 56L, 57L)).isEmpty,
      groups)
    assert(groups(51L) == groups(52L))
  }
}
