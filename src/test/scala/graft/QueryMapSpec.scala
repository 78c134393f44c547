package graft

import org.scalatest.funsuite.AnyFunSuite

/** The reflective contract of perfbench's query suite: it reads
  * `SparkEntry.queryMap`, a private lazy val, by name.
  */
class QueryMapSpec extends AnyFunSuite {

  test("queryMap resolves reflectively and holds the benchmark suite's queries") {
    val m = SparkEntry.getClass.getDeclaredMethod("queryMap")
    m.setAccessible(true)
    val all = m.invoke(SparkEntry)
      .asInstanceOf[Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame]]
    for (q <- Seq("q01_pricing_summary", "q11_sessionize", "q16_quality",
        "q20_minhash_neardups", "q66_media_decode"))
      assert(all.contains(q), q)
  }
}
