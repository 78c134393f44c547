package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** 4 well-separated clusters on coordinate axes in 8 dims, 25 points
    * each, deterministic jitter.
    */
  private lazy val clustered = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = for (c <- 0 until 4; i <- 0 until 25) yield {
      val v = Array.fill(8)(rnd.nextGaussian() * 0.05)
      v(c) += 1.0
      ((c * 25 + i).toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  private val query: Seq[Double] =
    Seq(1.0, 0.02, -0.01, 0.03, 0.0, 0.01, -0.02, 0.0)

  test("samplePivots is deterministic and returns nlist corpus vectors") {
    val p1 = Similarity.samplePivots(clustered, "embedding", "vec_id", 8)
    val p2 = Similarity.samplePivots(clustered, "embedding", "vec_id", 8)
    assert(p1.length == 8)
    assert(p1.map(_.toSeq) sameElements p2.map(_.toSeq))
    val corpus = clustered.collect().map(_.getSeq[Double](1).toSeq).toSet
    assert(p1.forall(p => corpus.contains(p.toSeq)))
  }

  test("nprobe = nlist degrades to exact brute force") {
    val pivots = Similarity.samplePivots(clustered, "embedding", "vec_id", 8)
    val ivf = Similarity.ivfTopK(clustered, "embedding", "vec_id",
        query, 10, pivots, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(clustered, "embedding", "vec_id",
        query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.toSeq == brute.toSeq)
  }

  test("small nprobe trades bounded recall for a 4x narrower scan") {
    val pivots = Similarity.samplePivots(clustered, "embedding", "vec_id", 8)
    val ivf = Similarity.ivfTopK(clustered, "embedding", "vec_id",
      query, 10, pivots, nprobe = 2).collect().map(_.getLong(0)).toSet
    val brute = Similarity.bruteForceTopK(clustered, "embedding", "vec_id",
      query, 10).collect().map(_.getLong(0)).toSet
    // deterministic fixture: the sampled quantizer splits the query
    // cluster across three lists, so probing 2 of 8 recovers 6 of the
    // true top-10 (IVF's recall/scan-fraction trade, not a defect) and
    // every result is a genuine cluster-0 point
    assert(ivf.intersect(brute).size >= 6, s"recall ${ivf.intersect(brute).size}/10")
    assert(ivf.forall(_ < 25), s"non-cluster-0 result in $ivf")
    // probing every list restores the misses (exactness covered above)
    val full = Similarity.ivfTopK(clustered, "embedding", "vec_id",
      query, 10, pivots, nprobe = 8).collect().map(_.getLong(0)).toSet
    assert(full == brute)
  }

  test("kmeansRefine does not increase inertia and often shrinks it") {
    val pivots = Similarity.samplePivots(clustered, "embedding", "vec_id", 4)
    val before = Similarity.ivfInertia(clustered, "embedding", pivots)
    val refined = Similarity.kmeansRefine(clustered, "embedding", pivots, iters = 2)
    val after = Similarity.ivfInertia(clustered, "embedding", refined)
    assert(after <= before + 1e-12, s"inertia $before -> $after")
  }

  test("assignment ties break to the lowest pivot index") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    // two identical pivots: dist ties exactly; argmin must pick index 0
    val pivots = Array(Array(1.0, 0.0), Array(1.0, 0.0))
    val lid = df.select(Similarity.listAssign(col("embedding"), pivots))
      .first().getInt(0)
    assert(lid == 0)
  }

  test("semDedup drops exact copies inside their cluster, keeps " +
    "originals and cross-cluster points") {
    val s = spark
    import s.implicits._
    // copies of the first 10 points with higher ids
    val copies = clustered.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val corpus = clustered.unionByName(copies)
    val pivots = Similarity.samplePivots(corpus, "embedding", "vec_id", 4)
    val kept = Similarity.semDedup(corpus, "embedding", "vec_id",
        pivots, tau = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert((0L until 100L).forall(kept.contains), "originals kept")
    assert((1000L until 1010L).forall(id => !kept.contains(id)),
      "exact copies dropped")
  }

  test("semDedup plan: cluster-keyed join, no cartesian product") {
    val pivots = Similarity.samplePivots(clustered, "embedding", "vec_id", 4)
    val plan = Similarity.semDedup(clustered, "embedding", "vec_id", pivots)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("list_id"), plan)
  }

  test("semDedup maxCluster caps the keeper side: near-dups of " +
    "non-keeper members survive (documented recall degradation)") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.0, 1.0)),
      (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val onePivot = Array(Array(1.0, 1.0)) // everything in one cluster
    def keptWith(cap: Int): Set[Long] =
      Similarity.semDedup(df, "embedding", "vec_id", onePivot,
          tau = 0.99, maxCluster = cap)
        .select("vec_id").as[Long].collect().toSet
    // cap 2: keepers {1,2}; 3 duplicates keeper 2 -> dropped
    assert(keptWith(2) == Set(1L, 2L))
    // cap 1: keeper {1} only; 3's duplicate (2) is not a keeper -> kept
    assert(keptWith(1) == Set(1L, 2L, 3L))
  }

  test("int8 quantization: bounded error, cosine preserved, zero-safe") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(0.3, -1.27, 0.002, 0.9)),
      (2L, Seq(0.0, 0.0, 0.0, 0.0)),
      (3L, Seq(-0.5, 0.5, 0.25, -0.125))).toDF("vec_id", "embedding")
    val q = df.select(col("vec_id"),
      col("embedding"),
      Similarity.quantizeInt8(col("embedding")).as("qz"))
    val rows = q.select(col("vec_id"), col("qz.scale"), col("qz.q"),
        Similarity.dequantize(col("qz")).as("dq"), col("embedding"))
      .collect()
    for (r <- rows) {
      val scale = r.getDouble(1)
      val qs = r.getSeq[Int](2)
      val dq = r.getSeq[Double](3)
      val orig = r.getSeq[Double](4)
      assert(qs.forall(v => v >= -127 && v <= 127))
      orig.zip(dq).foreach { case (o, d) =>
        assert(math.abs(o - d) <= scale / 2 + 1e-12,
          s"err ${math.abs(o - d)} > ${scale / 2}")
      }
      if (r.getLong(0) == 2L) {
        assert(scale == 0.0 && qs.forall(_ == 0))
      }
    }
    // cosine over the int arrays equals cosine over dequantized (scale
    // cancels) and approximates the original closely
    val cos = q.filter(col("vec_id") === 1)
      .select(Similarity.cosine(col("embedding"),
        Similarity.dequantize(col("qz"))))
      .first().getDouble(0)
    assert(cos > 0.9999, cos.toString)
  }

  test("a probe over an ivfIndex parquet layout partition-prunes") {
    val pivots = Similarity.samplePivots(clustered, "embedding", "vec_id", 8)
    SparkTestSession.withTempDir("graft_ivf") { dir =>
      Similarity.ivfIndex(clustered, "embedding", pivots)
        .write.mode("overwrite").partitionBy("list_id").parquet(dir)
      val indexed = spark.read.parquet(dir)
      val probed = indexed.filter(col("list_id").isin(0, 1))
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.replaceAll("\\s", "").contains("list_id"), plan)
      // pruned scan reads only the probed lists
      val lists = probed.select("list_id").distinct()
        .collect().map(_.getInt(0)).toSet
      assert(lists.subsetOf(Set(0, 1)))
      // the layout-written query path (ivfTopKIndexed) returns exactly
      // what the inline-assignment path computes — layout changes the
      // physical plan, never the answer (q61's contract)
      val qv = Similarity.queryVector(clustered, "embedding", "vec_id", 0)
      val viaLayout = Similarity.ivfTopKIndexed(indexed, "embedding",
          "vec_id", qv, 5, pivots, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val inline = Similarity.ivfTopK(clustered, "embedding",
          "vec_id", qv, 5, pivots, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(viaLayout == inline)
    }
  }
}
