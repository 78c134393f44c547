package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — a single codegen'd scan with
  * `zip_with`/`aggregate` (no UDF, no collect). Scale path: random
  * hyperplane LSH — candidates meet only in sign-pattern buckets, so the
  * scan narrows by ~2^bits before the exact re-rank.
  */
object Similarity {

  /** Dot product of two array columns (codegen'd). */
  /** Native codegen'd dot product in DOUBLE ([[graft.functions.DotProduct]];
    * the HOF `aggregate(zip_with(...))` form it replaces is interpreted
    * per call — the r05-measured hot scalar of the similarity tier).
    * The explicit array<double> cast makes float-array inputs promote
    * per ELEMENT before multiplying, matching the DuckDB oracles'
    * `CAST(embedding AS DOUBLE[])` exactly (the old float-typed HOF
    * multiplied in float first — a ~1e-8 cross-engine gap the 6dp
    * rounding had to absorb).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotCol(
      a.cast("array<double>"), b.cast("array<double>"))

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2norm(a) * l2norm(b)
    when(n === 0, lit(0.0)).otherwise(d / n)
  }

  /** Brute-force cosine top-k against a literal query vector.
    * Deterministic tie-break on the id column.
    */
  def bruteForceTopK(df: DataFrame, vecCol: String, idCol: String,
                     query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    df.select(col(idCol),
        round(cosine(col(vecCol).cast("array<double>"), q), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Keyspace auto-sizing for the near-dup tables:
    * `ceil(log2(n / targetBucket))` clamped to [4, 28]. `targetBucket`
    * is the MEAN occupancy target with tail headroom built in: cells of
    * random central hyperplanes are heavy-tailed (measured on
    * 10^6 gaussian vectors, cap 256: 14 bits drop 27% of rows into
    * capped buckets, 17 bits 4%, 22 bits 0%), and driving the tail to
    * ZERO costs ~log2(n)+2 bits, which collapses per-table recall at
    * moderate thresholds (0.9^22 = 0.10). So auto-sizing targets a
    * SMALL-AND-COUNTED capped fraction (~5% per table at maxBucket/32),
    * which the independent tables recover: a pair capped out of one
    * table's hot cell still meets in the other tables' unrelated cells.
    * 10^6 vectors at target 8 give 17 bits; 10^9 give 27.
    */
  def autoBits(n: Long, targetBucket: Int = 8): Int =
    math.min(28, math.max(4, math.ceil(
      math.log(math.max(1L, n) / targetBucket.toDouble) / math.log(2)).toInt))

  /** Deterministic pseudo-random hyperplanes (seeded; no wall clock). */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 7L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-pattern LSH bucket id of a vector column for the given planes. */
  def lshBucket(vecCol: Column, planes: Array[Array[Double]]): Column = {
    val bits: Seq[Column] = planes.zipWithIndex.toSeq.map { case (p, i) =>
      val pl = array(p.map(lit): _*)
      when(dot(vecCol.cast("array<double>"), pl) >= 0, lit(1L << i))
        .otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** LSH-bucketed ANN: probe the query's bucket (plus all buckets within
    * hamming distance 1 for recall), exact re-rank inside. At cluster
    * scale the bucket column is the shuffle/partition key; the probe is a
    * partition-pruned scan instead of a full pass.
    */
  def annTopK(df: DataFrame, vecCol: String, idCol: String,
              query: Seq[Double], k: Int, bits: Int = 8,
              seed: Long = 7L): DataFrame = {
    val planes = hyperplanes(query.length, bits, seed)
    // query bucket + hamming-1 neighborhood, computed driver-side (tiny)
    val qBucket = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (a, b) => a * b }.sum
      if (d >= 0) 1L << i else 0L
    }.sum
    val probes = qBucket +: (0 until bits).map(i => qBucket ^ (1L << i))
    val q = array(query.map(lit): _*)
    df.withColumn("bucket", lshBucket(col(vecCol), planes))
      .filter(col("bucket").isin(probes: _*))
      .select(col(idCol),
        round(cosine(col(vecCol).cast("array<double>"), q), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  // ---------- IVF (inverted-file) ANN ----------

  /** Deterministic coarse-quantizer pivots: the `nlist` corpus vectors
    * with the smallest `md5(id || salt)` — a content-stable hash-order
    * sample (the same discipline as [[Curation.hashSample]]), i.e. an
    * IVF with an untrained quantizer in the FAISS sense. Returned
    * driver-side: coarse quantizers are small BY DESIGN (nlist ~ sqrt(n);
    * 65536 lists x 64 dims x 8B = 32 MB at 10^9 vectors) — the pivot
    * table is the one piece of an IVF index that is *supposed* to be
    * broadcastable. Refine with [[kmeansRefine]] when trained centroids
    * are worth their cost; every downstream operator takes the pivot
    * array, so trained and sampled quantizers are interchangeable.
    */
  def samplePivots(df: DataFrame, vecCol: String, idCol: String,
                   nlist: Int, salt: String = "graft-ivf"): Array[Array[Double]] = {
    // Two-phase (guide §2.3 — shuffle/scan keys, not payloads): the
    // hash-order winners are decided on (id, md5) ALONE, so the first
    // pass never evaluates the vector column — which matters when
    // vecCol is a derived expression (q74 dequantize∘quantize: the old
    // single-pass form ran that interpreted HOF chain corpus-wide just
    // to discard all but nlist rows) and lets parquet prune the
    // embedding bytes from the scan. The second pass computes vectors
    // for exactly the nlist winners (an isin-pushed point lookup).
    // Identical result for unique ids: same (md5, id) order, same rows.
    val winners = df
      .select(md5(concat(col(idCol).cast("string"), lit(salt))).as("_h"),
        col(idCol).as("_id"))
      .orderBy(col("_h"), col("_id"))
      .limit(nlist)
      .collect()
    if (winners.isEmpty) return Array.empty
    val ids = winners.map(_.get(1))
    val byId = df
      .filter(col(idCol).isin(ids: _*))
      .select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("v"))
      .collect()
      .map(r => r.get(0) -> r.getSeq[Double](1).toArray)
      .toMap
    winners.map(r => byId(r.get(1)))
  }

  /** Inverted-list assignment: index of the pivot with minimum cosine
    * distance (ties -> lowest pivot index). Codegen'd transform chain
    * over a literal pivot array — no UDF; `array_position` on the exact
    * computed min is safe because both sides are the same expression.
    */
  def listAssign(vecCol: Column, pivots: Array[Array[Double]]): Column = {
    // ONE ArrayType literal, not a CreateArray tree of nlist x dim lit()
    // nodes — at 16x64 the tree form is ~1k expression nodes that every
    // reference re-analyzes/codegens (measured: q77's wall was ~6s of
    // driver-side plan work before this, ~1s after)
    val pl = typedlit(pivots.map(_.toSeq).toSeq)
    // both the vector and the distance array are bound once
    // (Dedup.bindOnce): referencing either tree from inside a lambda /
    // twice at top level would re-run the nlist-pivot cosine scan per
    // reference
    Dedup.bindOnce(vecCol.cast("array<double>"), v =>
      Dedup.bindOnce(transform(pl, p => lit(1.0) - cosine(v, p)), dists =>
        (array_position(dists, array_min(dists)) - 1).cast("int")))
  }

  /** Materialize the IVF index column. At scale, WRITE this partitioned
    * (or bucketed) by `list_id`: probes then become partition-pruned
    * scans of nprobe/nlist of the corpus instead of a full pass —
    * that layout, not the assignment math, is what makes IVF pay at
    * 100 TB (see the IvfSpec pushdown test).
    */
  def ivfIndex(df: DataFrame, vecCol: String,
               pivots: Array[Array[Double]]): DataFrame =
    df.withColumn("list_id", listAssign(col(vecCol), pivots))

  /** IVF ANN top-k: probe the `nprobe` inverted lists whose pivots are
    * nearest the query (computed driver-side — the pivot table is
    * driver-resident), exact cosine re-rank inside the probed lists.
    * `nprobe = nlist` degrades to exact brute force; recall at fixed
    * nprobe rises with how well the quantizer matches the data —
    * [[samplePivots]] is distribution-matched for free because pivots
    * ARE corpus points. Runs on an unindexed frame by computing the
    * assignment inline; against a layout written by [[ivfIndex]] the
    * same filter partition-prunes.
    */
  def ivfTopK(df: DataFrame, vecCol: String, idCol: String,
              query: Seq[Double], k: Int, pivots: Array[Array[Double]],
              nprobe: Int = 4): DataFrame =
    ivfTopKIndexed(df.withColumn("list_id", listAssign(col(vecCol), pivots)),
      vecCol, idCol, query, k, pivots, nprobe)

  /** Probe list selection (driver-side — the pivot table is
    * driver-resident): indexes of the `nprobe` pivots nearest the query
    * by cosine distance, ties to the lower index.
    */
  def probeLists(query: Seq[Double], pivots: Array[Array[Double]],
                 nprobe: Int): Seq[Int] =
    pivots.zipWithIndex.map { case (p, i) =>
      val d = dotS(p, query.toArray)
      val n = math.sqrt(p.map(x => x * x).sum) *
        math.sqrt(query.map(x => x * x).sum)
      (if (n == 0) 1.0 else 1.0 - d / n, i)
    }.sortBy { case (d, i) => (d, i) }.take(nprobe).map(_._2).toSeq

  /** IVF top-k over a frame that ALREADY carries `list_id` — the
    * layout-written path ([[ivfIndex]] scaladoc): when the frame is a
    * parquet/Iceberg table partitioned by `list_id`, the probe filter
    * is a pure partition predicate, so the scan reads nprobe/nlist of
    * the corpus (PartitionFilters — asserted at runtime by the q61
    * oracle query and IvfSpec). This is the 100 TB query path; the
    * assignment math runs only at index-build time.
    */
  def ivfTopKIndexed(indexed: DataFrame, vecCol: String, idCol: String,
                     query: Seq[Double], k: Int,
                     pivots: Array[Array[Double]],
                     nprobe: Int = 4): DataFrame = {
    val probes = probeLists(query, pivots, nprobe)
    val q = array(query.map(lit): _*)
    indexed
      .filter(col("list_id").isin(probes.map(Integer.valueOf): _*))
      .select(col(idCol),
        round(cosine(col(vecCol).cast("array<double>"), q), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  private def dotS(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** SPHERICAL Lloyd refinement of a pivot set: `iters` rounds of
    * assign -> per-list mean of the UNIT-normalized members, normalized
    * back to the sphere. The spherical formulation is what carries the
    * monotonicity guarantee for the cosine objective [[ivfInertia]]
    * measures: assignment picks the max-cosine pivot, and the normalized
    * mean-of-normalized-vectors is the exact maximizer of the per-list
    * cosine sum for a fixed assignment (a plain Euclidean mean is not —
    * near-antipodal members can drag it toward the origin with an
    * arbitrary direction). Cosine is scale-invariant, so unit pivots
    * assign identically to the raw sampled ones.
    *
    * Each round is one map-side-combinable groupBy over (list, dim)
    * rows — nlist x dim aggregate cells, collected to the driver (the
    * pivot table's size, see [[samplePivots]]); empty lists and
    * degenerate (zero-sum) lists keep their previous pivot; zero-norm
    * vectors are excluded from the update (their cosine is 0 to every
    * pivot). Kept separate from the query path: training cost is
    * per-index, not per-query, and the sampled quantizer is often good
    * enough.
    */
  def kmeansRefine(df: DataFrame, vecCol: String,
                   pivots: Array[Array[Double]], iters: Int = 2): Array[Array[Double]] = {
    var ps = pivots
    for (_ <- 0 until iters) {
      val unit = df.select(col(vecCol).cast("array<double>").as("_raw"))
        .filter(l2norm(col("_raw")) > 0)
        .select(Dedup.bindOnce(col("_raw"), v =>
          Dedup.bindOnce(l2norm(v), n =>
            transform(v, x => x / n))).as("_v"))
      val means = ivfIndex(unit, "_v", ps)
        .select(col("list_id"), posexplode(col("_v")).as(Seq("pos", "x")))
        .groupBy("list_id", "pos").agg(avg("x").as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (lid, rows) =>
          lid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
        }
      ps = ps.indices.map { i =>
        means.get(i) match {
          case Some(m) =>
            val n = math.sqrt(m.map(x => x * x).sum)
            if (n > 0) m.map(_ / n) else ps(i)
          case None => ps(i)
        }
      }.toArray
    }
    ps
  }

  /** Mean within-list cosine distance — the IVF quality metric
    * [[kmeansRefine]] minimizes; exposed for tests/monitoring. */
  def ivfInertia(df: DataFrame, vecCol: String,
                 pivots: Array[Array[Double]]): Double = {
    val pl = array(pivots.map(p => array(p.map(lit): _*)): _*)
    val v = col(vecCol).cast("array<double>")
    ivfIndex(df, vecCol, pivots)
      .select((lit(1.0) - cosine(v, element_at(pl, col("list_id") + 1))).as("d"))
      .agg(avg("d")).first().getDouble(0)
  }

  // ---------- int8 scalar quantization ----------

  /** Symmetric int8 scalar quantization of an embedding column: `scale =
    * max(|v_i|) / 127`, `q_i = round(v_i / scale)` clamped to
    * [-127, 127] — the standard 4x storage/bandwidth compression for
    * corpus-scale vector columns (at 100 TB the embedding table's byte
    * width IS the scan cost; see [[ivfIndex]] for the layout half).
    * Pure `functions._` (bindOnce'd so the max-abs fold runs once), no
    * UDF. Zero vectors quantize to all-zero with scale 0.
    * Reconstruction error per component is at most `scale / 2`;
    * [[dequantize]] inverts up to that bound, and cosine over
    * dequantized vectors equals cosine over the int arrays (scale
    * cancels), so re-ranking can run directly on the quantized column.
    */
  def quantizeInt8(vecCol: Column): Column =
    Dedup.bindOnce(vecCol.cast("array<double>"), v =>
      Dedup.bindOnce(
        aggregate(transform(v, x => abs(x)), lit(0.0),
          (acc, x) => greatest(acc, x)) / 127.0,
        scale => struct(
          scale.as("scale"),
          when(scale === 0, transform(v, _ => lit(0)))
            .otherwise(transform(v, x =>
              greatest(lit(-127), least(lit(127),
                round(x / scale, 0).cast("int")))))
            .as("q"))))

  /** Inverse of [[quantizeInt8]]: `v_i ~ q_i * scale` (exact up to
    * scale/2 per component).
    */
  def dequantize(quantCol: Column): Column =
    Dedup.bindOnce(quantCol, s =>
      transform(s.getField("q"), q => q.cast("double") * s.getField("scale")))

  /** Embedding-cosine near-duplicate pairs via multi-table hyperplane
    * LSH + exact verify (the embedding leg of the dedup suite).
    *
    * The [[Dedup]] near-dup skeleton (see its scaladoc): identical
    * vectors collapse to one representative before bucketing; the bucket
    * shuffle carries (id, tableKey) only — vectors rejoin by id for the
    * exact cosine of the candidate set; an oversized bucket contributes
    * a deterministic `maxBucket` sample (counted into `statsObs`)
    * instead of silently vanishing.
    *
    * Keyspace sizing: `tables` independent sign-pattern tables of 2^bits
    * buckets each. `bits = 0` (the default) AUTO-SIZES from the collapsed
    * corpus count ([[autoBits]], mean-occupancy target maxBucket/32 —
    * tail headroom for the heavy-tailed sign-pattern cells, see the
    * autoBits scaladoc) — using the count the collapse aggregate already
    * produced, so no extra job: 10^6 vectors get bits=17 (~4% of rows in
    * capped-and-counted buckets per table, recovered by the other
    * tables), 10^9 get 27 (VERDICT r02 #8).
    * Recall for a pair at angle theta is 1-(1-(1-theta/pi)^bits)^tables
    * per the standard hyperplane-LSH analysis; identical vectors always
    * collide in every table. Callers chasing recall at a fixed corpus
    * size can still pin `bits` low and absorb bigger buckets via
    * `maxBucket`.
    */
  def cosineNearDups(df: DataFrame, vecCol: String, idCol: String,
                     threshold: Double = 0.95, bits: Int = 0,
                     tables: Int = 4, maxBucket: Int = 256,
                     seed: Long = 7L,
                     statsObs: Option[Observation] = None): DataFrame =
    Dedup.memberPairs(cosineRepPairs(df, vecCol, idCol, threshold, bits,
      tables, maxBucket, seed, statsObs))

  /** Transitive embedding-cosine GROUP labeling `(id, group_id)` — the
    * [[Dedup.minhashNearDupGroups]] construction for the vector leg:
    * connected components over verified representative pairs plus one
    * mapping join, never the quadratic member-pair expansion. Zero
    * vectors are ineligible for internal groups (their cosine is 0 to
    * everything, matching the pair surface).
    */
  def cosineNearDupGroups(df: DataFrame, vecCol: String, idCol: String,
                          threshold: Double = 0.95, bits: Int = 0,
                          tables: Int = 4, maxBucket: Int = 256,
                          seed: Long = 7L,
                          statsObs: Option[Observation] = None): DataFrame =
    Dedup.nearDupGroups(cosineRepPairs(df, vecCol, idCol, threshold, bits,
      tables, maxBucket, seed, statsObs))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    * scoped to embedding clusters. Each vector is assigned to its
    * nearest pivot ([[listAssign]] — an IVF coarse quantizer; the
    * paper's k-means centroids are interchangeable via
    * [[kmeansRefine]]), then a vector is DROPPED when a lower-id
    * cluster-mate has cosine >= `tau` (rounded to 6dp before the
    * compare, the cross-engine float discipline of the dedup suite).
    * Returns `df` minus the drops, all columns intact.
    *
    * Scale shape: the cluster scope is what makes this feasible where
    * corpus-wide all-pairs (q24's LSH path aside) is not — the
    * self-join shuffles BOTH sides on `list_id` (co-partitioned,
    * cluster-local pairs only), and the keeper side of each cluster is
    * capped at its `maxCluster` lowest-id members, bounding per-member
    * comparisons to O(maxCluster) — a degenerate cluster (collapsed
    * embeddings, a dead quantizer region) degrades recall against its
    * tail rather than going quadratic. Pivots are broadcast-sized by
    * design (nlist ~ sqrt(n); see [[samplePivots]]). Zero vectors are
    * never dropped (their cosine is null under Spark's null-on-
    * division-by-zero, and null >= tau filters false).
    */
  def semDedup(df: DataFrame, vecCol: String, idCol: String,
               pivots: Array[Array[Double]], tau: Double = 0.95,
               maxCluster: Int = 1 << 20): DataFrame = {
    // the assignment (nlist interpreted pivot cosines per row) is
    // materialized ONCE: both sides of the cluster-local self-join read
    // the checkpoint instead of re-running listAssign per side (eager,
    // [[Dedup.checkpointBy]]).
    // Each row also carries its own l2 norm: the O(c²) pair stage then
    // pays ONE dot product per pair instead of three — sqrt(dot(v,v))
    // per row is the same IEEE value whether computed per row or per
    // pair, and the pair-level n = norm_a * norm_b multiplication is
    // unchanged, so cosine values (and the 6dp-rounded compare) are
    // bit-identical to the [[cosine]] form (pinned by IvfSpec).
    val assigned = ivfIndex(df.select(col(idCol), col(vecCol)), vecCol, pivots)
      .withColumn("_vd", col(vecCol).cast("array<double>"))
      .withColumn("_nrm", l2norm(col("_vd")))
      .drop(vecCol) // _vd supersedes it; halves the checkpoint bytes
      .localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("list_id").orderBy(col(idCol))
    val keepers = assigned
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= maxCluster)
      .select(col("list_id"), col(idCol).as("_keep_id"),
        col("_vd").as("_keep_vd"), col("_nrm").as("_keep_nrm"))
    val pairCos = {
      val n = col("_nrm") * col("_keep_nrm")
      when(n === 0, lit(0.0))
        .otherwise(graft.functions.DotProduct.dotCol(col("_vd"),
          col("_keep_vd")) / n)
    }
    val drops = assigned.join(keepers, "list_id")
      .where(col(idCol) > col("_keep_id") && round(pairCos, 6) >= tau)
      .select(col(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** The embedding leg's front: collapse on identical vectors ->
    * multi-table sign-pattern keys -> bounded candidate pairs -> exact
    * cosine [[Dedup.verifyPairs]] on the rep vectors. Eligible reps are
    * non-zero vectors; their internal pairs carry cos 1.0.
    */
  private def cosineRepPairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, bits: Int, tables: Int, maxBucket: Int,
      seed: Long, statsObs: Option[Observation]): Dedup.RepPairs = {
    require(bits <= 32, "bits must fit the per-table key")
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val dim = base.select(size(col("v"))).first().getInt(0)

    // exact collapse on identical vectors (128-bit key: no false merges);
    // the vector payload rides the collapse agg — no recovery join
    val collapsed = Dedup.collapse(
      base.select(col("id"), md5(to_json(col("v"))).as("gk"),
        col("v").as("payload")))
    val reps = collapsed.reps
    val effBits =
      if (bits > 0) bits
      else autoBits(collapsed.nReps, math.max(1, maxBucket / 32))

    // (id, tableKey) rows only through the shuffle
    val keyCols = (0 until tables).map { t =>
      lit(t.toLong << 33) +
        lshBucket(col("payload"), hyperplanes(dim, effBits, seed + t))
    }
    val keyed = reps.select(col("id"), explode(array(keyCols: _*)).as("bkey"))
    val verified = Dedup.verifyPairs(
      Dedup.bucketPairs(keyed, maxBucket, statsObs), reps, "cos",
      (a, b) => round(cosine(a, b), 6), _ >= threshold)
    val eligible = reps.filter(l2norm(col("payload")) > 0)
      .select(col("id").as("rep"), lit(1.0).as("cos"))
    Dedup.RepPairs(collapsed, verified, eligible)
  }
}
