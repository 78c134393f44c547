package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Transitive duplicate-group resolution: connected components over the
  * near-dup pair graph.
  *
  * The dedup operators ([[Dedup.minhashNearDups]], [[Dedup.simhashNearDups]],
  * [[graft.operators.Winnow]], [[Similarity.cosineNearDups]]) emit verified
  * PAIRS. Actually dropping duplicates needs the transitive closure: if
  * A~B and B~C, one representative must survive for {A,B,C} even when
  * (A,C) itself fell below threshold. That closure is a connected-
  * components problem on a graph whose edge count is the pair count —
  * tiny relative to the corpus, but far beyond driver memory at web
  * scale, so it must itself be computed distributed.
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii, "Connected Components in MapReduce
  * and Beyond", SoCC'14) — the published shuffle-native formulation that
  * converges in O(log^2 n) rounds on any graph (observed: 2-4 rounds on
  * dup graphs, whose components are near-cliques). Each round is two
  * aggregate-then-join passes over the edge list:
  *
  *   - large-star: every node points its LARGER neighbors at the minimum
  *     of its neighborhood (incl. itself);
  *   - small-star: every node points its smaller neighbors and itself at
  *     that minimum.
  *
  * Scale shape: neighborhoods are never materialized as arrays — the
  * per-node minimum is a map-side-combinable `groupBy.agg(min)`, and the
  * rewiring is a join against that one-row-per-node aggregate, so a
  * celebrity node (a boilerplate cluster hub) costs a skew-splittable
  * join, not a giant aggregation buffer (the same rule as
  * [[Dedup.collapse]]). Each round's edge set is persisted and the
  * previous round's is unpersisted; convergence is a (count, xor-of-
  * hashes) signature match — a cheap aggregate on the already-cached
  * frame — CONFIRMED exactly by a set-diff of the two cached edge sets
  * before the loop exits, so detection is exact, not probabilistic.
  */
object Components {

  /** Convergence telemetry for one [[connectedComponentsWithStats]] run
    * (VERDICT r03 #7): `rounds` alternations to the confirmed fixpoint,
    * `edgeCounts(i)` = canonical edge count AFTER round i (the counts
    * are free — each round's convergence checksum already aggregates
    * them), `inputEdges` = the distinct canonical edge count of the
    * input. A production run alerts when `rounds` approaches its bound
    * or edge counts stop contracting — the convergence-pathology
    * signals for a graph whose shape regressed (e.g. an LSH bug
    * flooding the pair surface).
    */
  final case class CcStats(rounds: Int, inputEdges: Long,
                           edgeCounts: Seq[Long])

  /** Largest edge count [[connectedComponents]] labels on the driver. */
  private val LocalEdgeThreshold = 1 << 22

  /** Connected components of an undirected pair graph.
    *
    * Input: a DataFrame with two long-castable id columns (self-loops
    * ignored — a node appearing ONLY in self-loop pairs has no edges and
    * is absent from the output). Output: `(id, component)` for every
    * node with at least one real (two-endpoint) pair, where `component`
    * is the minimum id of the node's component (the usual canonical
    * label — deterministic and stable under repartitioning).
    *
    * Execution is SIZE-ADAPTIVE (guide §1.2: the distributed algorithm
    * is the lever): one bounded limit-collect probes the canonical
    * distinct edge set (delivering it whole when it fits, terminating
    * early when it does not — no separate count job), and a graph
    * at-or-under [[LocalEdgeThreshold]] edges is labeled by one driver
    * union-find over the collected edges instead of 2-4 alternation
    * rounds of 2 shuffles + checkpoint + checksum each (~25 Spark jobs
    * at smoke scale, measured: q45 wall 4.1 s → the local path removes
    * the whole loop). The driver-heap bound is the collect: the edges
    * arrive packed as primitive longs, 16 B per edge each in the decoded
    * result rows, the collected arrays and the flattened interleaved
    * array (measured 16.0-16.6 B per edge each over 1M edges on a 2 GB
    * compressed-oops heap; a collect of `(Long, Long)` tuples kept
    * 76.4 B per edge and decoded 84.6 B per edge of rows first), so
    * ~48 B per edge, ~200 MB at 2^22 + 1 edges, at its peak — the same
    * bounded-collect discipline as broadcast joins and
    * [[Similarity.samplePivots]]. The union-find then holds the
    * interleaved array, a sorted id copy (16 B per edge) and one `Int`
    * parent per node. Dedup pair graphs sit far
    * below the threshold even at corpus scale (edges ≈ verified
    * near-dup pairs of *representatives*); a graph beyond it takes the
    * distributed alternation unchanged. Labels are identical on both
    * paths (union-by-min + path compression ⇒ root = component minimum;
    * pinned by ComponentsSpec's local-vs-distributed test against
    * [[connectedComponentsWithStats]], which is always distributed).
    *
    * `maxRounds` bounds the distributed alternation; on non-convergence
    * the call THROWS rather than returning a partially-contracted
    * labeling (silently wrong groups would drop the wrong documents).
    * The O(log^2 n) bound makes 30 rounds astronomically more than any
    * real graph needs.
    */
  def connectedComponents(pairs: DataFrame, idACol: String = "id_a",
                          idBCol: String = "id_b",
                          maxRounds: Int = 30): DataFrame = {
    val spark = pairs.sparkSession
    val edges = canonicalEdges(pairs, idACol, idBCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE bounded collect decides the path AND delivers the edges
      // (guide §1.2): limit(threshold+1) returns the WHOLE edge set
      // when it fits (driver memory bounded by the threshold either
      // way) and exactly threshold+1 rows when it does not — the old
      // count()-then-collect() shape paid a full count job first, which
      // at scale is strictly more work than an early-terminating limit.
      // Each partition of the limited edge set is packed into ONE
      // interleaved primitive array (hi0, lo0, hi1, lo1, ...) on the
      // executor, so the driver decodes 16 B per edge instead of one
      // row object per edge.
      import spark.implicits._
      val flat = edges.limit(LocalEdgeThreshold + 1).as[(Long, Long)]
        .mapPartitions { it =>
          val b = new scala.collection.mutable.ArrayBuilder.ofLong
          it.foreach { case (hi, lo) => b += hi; b += lo }
          Iterator.single(b.result())
        }.collect().flatten
      if (flat.length <= 2 * LocalEdgeThreshold) localLabels(spark, flat)
      else distributedLabels(edges, maxRounds)._1
    } finally edges.unpersist()
  }

  /** Driver union-find labeling of a bounded canonical edge list given
    * as interleaved `(hi, lo)` longs. Ids are mapped to dense indices in
    * id order (sorted distinct copy + binary search), so union-by-min
    * over `Int` parents with path halving leaves every root at its
    * component's minimum id (the same canonical label as the
    * distributed alternation). Output schema matches the distributed
    * path: (id LONG, component LONG).
    */
  private def localLabels(spark: org.apache.spark.sql.SparkSession,
                          flat: Array[Long]): DataFrame = {
    val ids = flat.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    var i = 0
    while (i < ids.length) {
      if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { // path halving
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    i = 0
    while (i < flat.length) {
      val a = find(index(flat(i)))
      val b = find(index(flat(i + 1)))
      // union by min: the smaller index (= smaller id) stays the root
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 2
    }
    val out = new Array[org.apache.spark.sql.Row](n)
    i = 0
    while (i < n) {
      out(i) = org.apache.spark.sql.Row(ids(i), ids(find(i)))
      i += 1
    }
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.LongType, nullable = true))))
  }

  /** Canonical directed edge set (hi > lo), self-loops dropped. */
  private def canonicalEdges(pairs: DataFrame, idACol: String,
                             idBCol: String): DataFrame =
    pairs
      .select(col(idACol).cast("long").as("a"),
        col(idBCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("hi"),
        least(col("a"), col("b")).as("lo"))
      .distinct()

  /** [[connectedComponents]] plus its [[CcStats]] round telemetry —
    * ALWAYS the distributed alternation (the telemetry surface exists to
    * observe its convergence; the size-adaptive local path lives on
    * [[connectedComponents]]). The loop is driver-stepped (each round's
    * convergence checksum is an action), so the stats are exact and
    * cost nothing extra.
    */
  def connectedComponentsWithStats(pairs: DataFrame, idACol: String = "id_a",
                                   idBCol: String = "id_b",
                                   maxRounds: Int = 30): (DataFrame, CcStats) =
    distributedLabels(
      canonicalEdges(pairs, idACol, idBCol)
        .persist(StorageLevel.MEMORY_AND_DISK),
      maxRounds)

  /** The alternating large-star/small-star loop over a persisted
    * canonical edge set (takes ownership: the input's persist is
    * released as rounds advance).
    */
  private def distributedLabels(canonical: DataFrame,
                                maxRounds: Int): (DataFrame, CcStats) = {
    var edges = canonical

    // (count, xor-of-hashes): order-independent, overflow-free (ANSI-safe),
    // and collision-proof against duplicate cancellation because the edge
    // set is distinct
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(hi, lo))"), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }

    var sig = checksum(edges)
    val inputEdges = sig._1
    val roundEdgeCounts = scala.collection.mutable.ArrayBuffer[Long]()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // large-star: m(u) = min over u's full neighborhood (incl. u);
      // every neighbor v > u is rewired to (v, m). Output is canonical
      // (hi > lo) because v > u >= m.
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
      val lsMins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // NOT distinct'ed: ls has exactly one row per undirected edge (one
      // per (u,v) with v > u), so there is no inflation to collapse —
      // small-star's min is duplicate-insensitive and the round's final
      // distinct canonicalizes. Skipping the dedup saves a full shuffle
      // per round.
      val ls = sym.join(lsMins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .persist(StorageLevel.MEMORY_AND_DISK)

      // small-star: m(u) = min over u's SMALLER neighbors (and u); u and
      // each smaller neighbor are rewired to m. lo >= m always, and the
      // lo == m self-edge is dropped.
      val ssMins = ls.groupBy("hi").agg(min("lo").as("m"))
      val moved = ls.join(ssMins, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
      val own = ssMins.select(col("hi"), col("m").as("lo"))
      // lineage truncation per round is MANDATORY: `next` references
      // `ls` three times and `ls` references `edges` twice, so without a
      // cut the logical plan grows ~5x per round and Catalyst analysis
      // goes exponential (minutes by round ~10 even on a 64-node chain).
      // Eager localCheckpoint materializes the round AND restarts the
      // plan from a LogicalRDD; on a real cluster configure a reliable
      // checkpoint dir (setCheckpointDir) and swap in .checkpoint() if
      // executor loss during the (short) loop must be survivable.
      // lazy: the checksum action right below computes every partition,
      // so it materializes the round's checkpoint as a side effect (the
      // eager form paid a dedicated job per round)
      val next = moved.unionByName(own).distinct()
        .localCheckpoint(false)

      val nextSig = checksum(next)
      ls.unpersist()
      // the (count, xor) signature is a filter, not the proof: on a
      // signature match, confirm the fixpoint EXACTLY with a set-diff of
      // the two cached frames (equal counts + empty except <=> equal
      // sets). The except runs at most once per convergence, so the
      // labeling can never be cut short by a 64-bit collision.
      converged = nextSig == sig &&
        next.exceptAll(edges).isEmpty
      edges.unpersist()
      edges = next
      sig = nextSig
      roundEdgeCounts += nextSig._1
      round += 1
    }
    if (!converged) {
      edges.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds")
    }
    // fixpoint edges are stars: (node, componentMin); the minima appear
    // only on the lo side, so add their self-labels
    val labels = edges.select(col("hi").as("id"), col("lo").as("component"))
      .unionByName(
        edges.select(col("lo").as("id"), col("lo").as("component")).distinct())
    (labels, CcStats(round, inputEdges, roundEdgeCounts.toSeq))
  }

  /** Near-dup group labeling straight off a verified pair set:
    * `(id, group_id)` for every document in at least one pair, group_id =
    * min member id. Compose with [[dropByGroupLabels]] to drop
    * all-but-one per transitive group; a family's `*Groups` surface gives
    * the same labeling without the pair surface's quadratic expansion.
    */
  def dupGroups(pairs: DataFrame, idACol: String = "id_a",
                idBCol: String = "id_b"): DataFrame =
    connectedComponents(pairs, idACol, idBCol)
      .withColumnRenamed("component", "group_id")

  /** Keep one representative per group from a `(id, group_id)` labeling
    * (any `*Groups` surface): drop every labeled doc that is not its
    * group's minimum; docs absent from the labeling pass through. The
    * scale-right end of the dedup pipeline — one anti-join against the
    * non-minima, the corpus scanned once, no pair expansion anywhere.
    */
  def dropByGroupLabels(df: DataFrame, labels: DataFrame,
                        idCol: String): DataFrame = {
    val drop = labels.filter(col("id") =!= col("group_id"))
      .select(col("id").as("_drop_id"))
    df.join(drop, df(idCol) === col("_drop_id"), "left_anti")
  }
}
