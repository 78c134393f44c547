package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ComponentsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def pairs(rows: (Long, Long)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("id_a", "id_b")
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Reference union-find for the property net. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("two components labeled by their minima") {
    val got = labelsOf(Components.connectedComponents(
      pairs(3L -> 1L, 1L -> 5L, 10L -> 20L)))
    assert(got == Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 10L -> 10L, 20L -> 10L))
  }

  test("chain graph (worst case for min-propagation) converges") {
    // a path 0-1-2-...-63: diameter 63, but star-contraction needs
    // only O(log^2 n) rounds
    val chain = (0L until 63L).map(i => i -> (i + 1))
    val got = labelsOf(Components.connectedComponents(pairs(chain: _*)))
    assert(got.size == 64 && got.values.forall(_ == 0L))
  }

  test("round telemetry: chain graph reports exact rounds + edge counts " +
    "(VERDICT r03 #7)") {
    val chain = (0L until 63L).map(i => i -> (i + 1))
    val (labels, stats) =
      Components.connectedComponentsWithStats(pairs(chain: _*))
    assert(labelsOf(labels).values.forall(_ == 0L))
    assert(stats.inputEdges == 63L)
    // O(log^2 n) star-contraction: a 64-node path needs a handful of
    // rounds (the +1 confirmation round is counted — it IS a round of
    // work); the exact count is deterministic for a fixed input
    assert(stats.rounds >= 2 && stats.rounds <= 8, s"rounds=${stats.rounds}")
    assert(stats.edgeCounts.size == stats.rounds)
    // the fixpoint is a star: 63 (node -> 0) edges
    assert(stats.edgeCounts.last == 63L)
    // telemetry must be exact, not sampled: a round's star output is
    // bounded by moved + own-label edges (< 2x input here)
    assert(stats.edgeCounts.forall(c => c > 0L && c < 126L))
  }

  test("self-loops and duplicate/reversed pairs are harmless") {
    val got = labelsOf(Components.connectedComponents(
      pairs(7L -> 7L, 2L -> 9L, 9L -> 2L, 2L -> 9L)))
    assert(got == Map(2L -> 2L, 9L -> 2L))
  }

  test("empty pair set yields empty labeling") {
    assert(Components.connectedComponents(pairs()).count() == 0L)
  }

  test("property net vs union-find on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 40 + trial * 20
      val es = Seq.fill(60 + trial * 30)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val got = labelsOf(Components.connectedComponents(pairs(es: _*)))
      assert(got == unionFind(es), s"trial $trial")
    }
  }

  test("minhashNearDupGroups == dupGroups(minhashNearDups) without the pair expansion") {
    val s = spark
    import s.implicits._
    // near-dup family (a~b~c by tail mutation), exact-dup cluster
    // (d1=d2=d3), a singleton, and an empty doc
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq(
      1L -> base,
      2L -> (base + " tail"),
      3L -> (base + " tail two"),
      10L -> "completely different text about cooking pasta tonight ok",
      11L -> "completely different text about cooking pasta tonight ok",
      12L -> "completely different text about cooking pasta tonight ok",
      20L -> "a singleton document that matches nothing else here at all",
      30L -> "  ").toDF("doc_id", "text")
    val viaPairs = Components.dupGroups(
        Dedup.minhashNearDups(corpus, "text", "doc_id", threshold = 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Dedup.minhashNearDupGroups(corpus, "text", "doc_id",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(direct == viaPairs)
    // sanity on content: the exact cluster labels to its min
    assert(direct.contains((11L, 10L)) && direct.contains((12L, 10L)))
    assert(!direct.exists(_._1 == 20L) && !direct.exists(_._1 == 30L))
  }

  test("cosineNearDupGroups == dupGroups(cosineNearDups) for the vector leg") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    def jitter(base: Array[Double], eps: Double) =
      base.map(_ + rnd.nextGaussian() * eps).toSeq
    val a = Array(1.0, 0.2, -0.3, 0.5)
    val b = Array(-0.8, 0.9, 0.1, 0.0)
    val corpus = (
      Seq(1L -> a.toSeq, 2L -> a.toSeq, 3L -> a.toSeq) ++ // exact cluster
        Seq(4L -> jitter(a, 1e-4), 5L -> jitter(a, 1e-4)) ++ // near a
        Seq(10L -> b.toSeq, 11L -> jitter(b, 1e-4)) ++
        Seq(20L -> Seq(0.0, 0.0, 0.0, 0.0)) ++ // zero vector
        Seq(30L -> Seq(0.0, 0.0, 1.0, 0.0)) // singleton
      ).toDF("vec_id", "embedding")
    val viaPairs = Components.dupGroups(
        Similarity.cosineNearDups(corpus, "embedding", "vec_id",
          threshold = 0.999, bits = 4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Similarity.cosineNearDupGroups(corpus, "embedding", "vec_id",
        threshold = 0.999, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(direct == viaPairs)
    assert(direct.contains((2L, 1L)) && direct.contains((3L, 1L)))
    assert(!direct.exists(_._1 == 20L) && !direct.exists(_._1 == 30L))
  }

  test("2000-edge random graph matches union-find (bulk sanity)") {
    val rnd = new scala.util.Random(7)
    val n = 1500
    val es = Seq.fill(2000)(
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
    val got = labelsOf(Components.connectedComponents(pairs(es: _*)))
    assert(got == unionFind(es))
  }

  test("threshold 0: a paired-but-ineligible exact group labels identically") {
    val s = spark
    import s.implicits._
    // zero-vector exact cluster {10,11}: ineligible for internal pairs
    // (l2norm = 0) but cosine(0, x) = 0 >= 0.0 VERIFIES any
    // bucket-collided pair, so expandCross still reaches its members —
    // the group construction must label them too (review finding: the
    // old eligibility semi-join dropped the whole cluster)
    val corpus = Seq(
      1L -> Seq(1.0, 0.1), 2L -> Seq(0.9, 0.11),
      10L -> Seq(0.0, 0.0), 11L -> Seq(0.0, 0.0))
      .toDF("vec_id", "embedding")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaPairs = labels(Components.dupGroups(
      Similarity.cosineNearDups(corpus, "embedding", "vec_id",
        threshold = 0.0, bits = 1, tables = 1)))
    val direct = labels(Similarity.cosineNearDupGroups(corpus, "embedding",
      "vec_id", threshold = 0.0, bits = 1, tables = 1))
    assert(direct == viaPairs)
    assert(viaPairs.exists(_._1 == 11L),
      s"zero-vector member not labeled: $viaPairs")
  }

  test("simhash and winnow group variants match their pair-based constructions") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the cat watches from the warm windowsill nearby"
    val corpus = Seq(
      1L -> base,
      2L -> (base + " tail"),
      3L -> base, // exact dup of 1
      10L -> "completely unrelated text about cooking pasta with basil tonight ok then",
      20L -> base.replace("dog", "wolf")).toDF("doc_id", "text")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val simViaPairs = labels(Components.dupGroups(
      Dedup.simhashNearDups(corpus, "text", "doc_id")))
    val simDirect = labels(
      Dedup.simhashNearDupGroups(corpus, "text", "doc_id"))
    assert(simDirect == simViaPairs)
    assert(simDirect.contains((3L, 1L)))

    val winViaPairs = labels(Components.dupGroups(
      Winnow.sharedFingerprintPairs(corpus, "text", "doc_id")))
    val winDirect = labels(
      Winnow.sharedFingerprintGroups(corpus, "text", "doc_id"))
    assert(winDirect == winViaPairs)
    assert(winDirect.contains((3L, 1L)))
  }

  test("local fast path == distributed alternation on a random graph " +
    "(r06 size-adaptive labeling)") {
    val rnd = new scala.util.Random(11)
    val n = 800
    val es = Seq.fill(1200)(
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
    // under the edge threshold: local union-find path
    val local = labelsOf(Components.connectedComponents(pairs(es: _*)))
    // WithStats is always the distributed alternation
    val dist = labelsOf(Components.connectedComponentsWithStats(pairs(es: _*))._1)
    assert(local == dist)
  }

  test("dropByGroupLabels over dupGroups keeps one per transitive group " +
    "plus untouched rows") {
    val s = spark
    import s.implicits._
    val corpus = Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e")
      .toDF("doc_id", "text")
    // 1~2, 2~3 transitively groups {1,2,3} even though (1,3) never paired
    val kept = Components.dropByGroupLabels(corpus,
      Components.dupGroups(pairs(1L -> 2L, 2L -> 3L)), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L))
  }
}
