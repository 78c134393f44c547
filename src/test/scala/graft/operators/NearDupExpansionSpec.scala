package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The member-expansion contract of the four near-dup pair surfaces:
  * every member pair of an exact-dup group carries the metric its
  * representative pair (cross pairs) or the group itself (internal
  * pairs) gets, with the leg's own metric type. Each surface is checked
  * against a brute-force all-pairs reference over a corpus small enough
  * that LSH misses nothing.
  */
class NearDupExpansionSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Every unordered id pair (id_a < id_b) whose metric passes `keep`. */
  private def allPairs[T, M](docs: Seq[(Long, T)], metric: (T, T) => M,
                             keep: M => Boolean): Set[(Long, Long, Any)] =
    (for {
      (ia, a) <- docs; (ib, b) <- docs if ia < ib
      m = metric(a, b) if keep(m)
    } yield (ia, ib, m: Any)).toSet

  private def jaccard(a: String, b: String): Double = {
    val (sa, sb) = (Dedup.shingleSet(a, 3).toSet, Dedup.shingleSet(b, 3).toSet)
    val uni = (sa ++ sb).size
    if (uni == 0) 0.0 else round6((sa & sb).size.toDouble / uni)
  }

  private def simhash(t: String): Long =
    Dedup.simhash64(t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq)

  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    def dot(x: Seq[Double], y: Seq[Double]) = x.zip(y).map(p => p._1 * p._2).sum
    val n = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
    if (n == 0) 0.0 else round6(dot(a, b) / n)
  }

  test("near-dup pair surfaces: member pairs carry the leg's metric and type") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the cat watches from the warm windowsill nearby"
    // exact group {1,2,3}, a near-dup of it (4), an unrelated doc (10) and
    // an exact group too short to shingle or fingerprint {20,21}
    val texts = Seq(1L -> base, 2L -> base, 3L -> base,
      4L -> (base + " tail"),
      10L -> "completely unrelated text about cooking pasta with basil tonight ok then",
      20L -> "tiny doc", 21L -> "tiny doc")
    val corpus = texts.toDF("doc_id", "text")
    val a = Seq(1.0, 0.2, -0.3, 0.5)
    val vecs = Seq(1L -> a, 2L -> a, 3L -> a,
      4L -> Seq(1.001, 0.199, -0.3, 0.501),
      10L -> Seq(-0.8, 0.9, 0.1, 0.0),
      20L -> Seq(0.0, 0.0, 0.0, 0.0), 21L -> Seq(0.0, 0.0, 0.0, 0.0))
    val vectors = vecs.toDF("vec_id", "embedding")

    val nfp = Winnow.fingerprints(base).length.toLong
    // (surface, output, metric column and type, brute-force reference,
    //  the internal pairs' metric for the {1,2,3} group)
    val cases: Seq[(String, DataFrame, String, String,
        Set[(Long, Long, Any)], Any)] = Seq(
      ("minhashNearDups",
        Dedup.minhashNearDups(corpus, "text", "doc_id", threshold = 0.7),
        "jaccard", "double",
        allPairs[String, Double](texts, jaccard, _ >= 0.7), 1.0),
      ("simhashNearDups", Dedup.simhashNearDups(corpus, "text", "doc_id"),
        "hamming", "int",
        allPairs[String, Int](texts,
          (x, y) => java.lang.Long.bitCount(simhash(x) ^ simhash(y)),
          _ <= 3), 0),
      ("cosineNearDups",
        Similarity.cosineNearDups(vectors, "embedding", "vec_id"),
        "cos", "double",
        allPairs[Seq[Double], Double](vecs, cosine, _ >= 0.95), 1.0),
      ("sharedFingerprintPairs",
        Winnow.sharedFingerprintPairs(corpus, "text", "doc_id"),
        "n_shared", "bigint",
        allPairs[String, Long](texts, (x, y) =>
          (Winnow.fingerprints(x).toSet & Winnow.fingerprints(y).toSet)
            .size.toLong, _ >= 2), nfp))

    for ((surface, out, metric, tpe, expected, internal) <- cases) {
      assert(out.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
        .toSeq == Seq("id_a:bigint", "id_b:bigint", s"$metric:$tpe"), surface)
      val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2)))
      assert(got.length == got.toSet.size, s"$surface: duplicate rows")
      assert(got.toSet == expected, surface)
      // the reference must exercise both expansion branches: the group's
      // internal pairs and a near-dup paired with every group member
      assert(Seq((1L, 2L), (1L, 3L), (2L, 3L))
        .forall { case (x, y) => expected((x, y, internal)) }, surface)
      assert(Seq(1L, 2L, 3L).forall(m => expected.exists(p =>
        p._1 == m && p._2 == 4L)), s"$surface: near-dup not expanded")
    }
  }
}
