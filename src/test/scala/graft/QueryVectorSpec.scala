package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's vector queries over `embeddings` tables that the sf
  * data never has: an empty one, and two tables whose directories differ
  * only in letters.
  */
class QueryVectorSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** `n` gaussian vectors of `dim` floats as an `embeddings` table. */
  private def writeEmbeddings(dir: String, n: Int, dim: Int,
                              seed: Int): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong,
        Seq.fill(dim)(rnd.nextGaussian().toFloat), i % 4))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def run(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted

  private def ivfLayouts(): Set[File] =
    Option(new File("/tmp").listFiles()).toSet.flatten
      .filter(_.getName.startsWith("graft_ivf_layout_"))

  test("q61's IVF layout is keyed by the embeddings table, not its dir's digits") {
    SparkEntry.queries // fixtures first: their layout is not this test's
    val before = ivfLayouts()
    try SparkTestSession.withTempDir("graft-ivf-key") { base =>
      // the same digits and dots: only the letters `a` and `b` differ
      val a = new File(base, "a/sf0.01").getPath
      val b = new File(base, "b/sf0.01").getPath
      def agree(d: String): Unit =
        assert(rows(run("q61_ivf_layout", d)) == rows(run("q46_ivf_ann", d)), d)
      writeEmbeddings(a, 200, 8, 1)
      writeEmbeddings(b, 200, 8, 2)
      agree(a)
      agree(b)
      // a table rewritten in place is indexed again, over its old layout
      writeEmbeddings(a, 200, 8, 3)
      agree(a)
      assert((ivfLayouts() -- before).size == 2)
    } finally (ivfLayouts() -- before).foreach(FileUtils.deleteDirectory)
  }

  test("over an empty embeddings table the query-vector fetch names the row") {
    SparkTestSession.withTempDir("graft-emb-empty") { dir =>
      writeEmbeddings(dir, 0, 8, 1)
      for (q <- Seq("q18_knn_brute", "q23_ann_lsh", "q46_ivf_ann",
          "q61_ivf_layout", "q74_ivf_sq8")) {
        val e = intercept[IllegalArgumentException](run(q, dir))
        assert(e.getMessage.contains("vec_id = 0"), s"$q: ${e.getMessage}")
      }
      // no vectors, no pairs: q24 returns its schema with 0 rows
      val q24 = run("q24_cosine_neardups", dir)
      assert(q24.columns.toSeq == Seq("id_a", "id_b", "cos"))
      assert(q24.collect().isEmpty)
    }
  }
}
