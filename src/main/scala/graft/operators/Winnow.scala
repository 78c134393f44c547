package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Document fingerprinting by rolling hash + winnowing (Schleimer,
  * Wilkerson, Aiken, "Winnowing: Local Algorithms for Document
  * Fingerprinting", SIGMOD 2003 — public knowledge): Rabin-Karp rolling
  * hash over character k-grams, then keep the minimum hash of every
  * window of w consecutive k-gram hashes. Guarantees any shared
  * substring of length >= w + k - 1 yields a shared fingerprint —
  * the candidate generator for substring-level near-dup detection
  * (complements MinHash, which is bag-of-shingles level).
  */
object Winnow {

  private val Base = 0x100000001b3L

  /** Winnowing fingerprint set of a normalized text. */
  def fingerprints(text: String, k: Int = 8, w: Int = 16): Array[Long] = {
    if (text == null) return Array.empty
    val s = text.toLowerCase
    val n = s.length
    if (n < k) return Array.empty
    // rolling Rabin-Karp over k-grams
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= Base; i += 1 }
    val hashes = new Array[Long](n - k + 1)
    var h = 0L
    i = 0
    while (i < k) { h = h * Base + s.charAt(i); i += 1 }
    hashes(0) = mix(h)
    i = k
    while (i < n) {
      h = (h - s.charAt(i - k) * pow) * Base + s.charAt(i)
      hashes(i - k + 1) = mix(h)
      i += 1
    }
    // winnowing: min of each window, emitted once per distinct position
    if (hashes.length <= w) {
      return Array(hashes.min)
    }
    val out = new scala.collection.mutable.LinkedHashSet[Long]
    var lastMinPos = -1
    var win = 0
    while (win + w <= hashes.length) {
      var minPos = win
      var j = win + 1
      while (j < win + w) {
        if (hashes(j) <= hashes(minPos)) minPos = j // rightmost min
        j += 1
      }
      if (minPos != lastMinPos) {
        out += hashes(minPos)
        lastMinPos = minPos
      }
      win += 1
    }
    out.toArray
  }

  private def mix(x: Long): Long = {
    var v = x
    v ^= (v >>> 33); v *= 0xff51afd7ed558ccdL; v ^= (v >>> 33)
    v
  }

  /** Near-dup candidate pairs: docs sharing any winnowing fingerprint
    * (bucket join on the fingerprint — same scale shape as MinHash LSH),
    * scored by the count of shared fingerprints.
    *
    * The [[Dedup]] near-dup skeleton: exact duplicates (identical
    * lowercased text => identical fingerprint set) collapse to one
    * representative before bucketing, so boilerplate mega-clusters can't
    * blow the bucket cap; a hot fingerprint bucket larger than
    * `maxBucket` contributes a deterministic sample (ids sorted, first
    * maxBucket) instead of silently vanishing, with the cap counted into
    * `statsObs` (n_buckets / n_oversized_buckets / n_docs_dropped).
    * Member pairs are expanded back by [[Dedup.memberPairs]]: cross
    * pairs inherit the representative pair's n_shared exactly (identical
    * fingerprint sets); internal pairs of an exact group share ALL
    * fingerprints, so n_shared = the group's fingerprint count, and a
    * group qualifies iff that count reaches minShared.
    */
  def sharedFingerprintPairs(df: DataFrame, textCol: String, idCol: String,
                             k: Int = 8, w: Int = 16,
                             minShared: Int = 2,
                             maxBucket: Int = 64,
                             statsObs: Option[Observation] = None): DataFrame =
    Dedup.memberPairs(
      winnowRepPairs(df, textCol, idCol, k, w, minShared, maxBucket, statsObs))

  /** Transitive winnowing GROUP labeling `(id, group_id)` — the
    * [[Dedup.minhashNearDupGroups]] construction for the fingerprint
    * leg: connected components over verified representative pairs plus
    * one mapping join, never the quadratic member-pair expansion.
    * Internal-group eligibility matches [[sharedFingerprintPairs]]:
    * exact groups whose fingerprint count reaches `minShared`.
    */
  def sharedFingerprintGroups(df: DataFrame, textCol: String, idCol: String,
                              k: Int = 8, w: Int = 16,
                              minShared: Int = 2,
                              maxBucket: Int = 64,
                              statsObs: Option[Observation] = None): DataFrame =
    Dedup.nearDupGroups(
      winnowRepPairs(df, textCol, idCol, k, w, minShared, maxBucket, statsObs))

  /** The winnowing leg's front: collapse on the lowercased text's md5 ->
    * fingerprint emission -> bounded buckets -> pairs counted by the
    * buckets (fingerprints) they share, at representative level. No
    * payload rejoin: the count IS the verify. Eligible reps have at
    * least minShared fingerprints; their internal pairs carry that count.
    */
  private def winnowRepPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int, minShared: Int, maxBucket: Int,
      statsObs: Option[Observation]): Dedup.RepPairs = {
    val spark = df.sparkSession
    import spark.implicits._
    // exact collapse (fingerprints depend on lowercased text only); the
    // text payload rides the checkpointed collapse agg — no recovery join
    val collapsed = Dedup.collapse(df.select(
      col(idCol).cast("long").as("id"), md5(lower(col(textCol))).as("gk"),
      col(textCol).as("payload")))

    // (id, fp, nfp) rows; nfp rides along for the internal-pair score
    val fps = collapsed.reps.as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val f = fingerprints(text, k, w)
        f.iterator.map(fp => (id, fp, f.length))
      })
      .toDF("id", "fp", "nfp")

    // pairs are NOT deduped here — n_shared is the count of buckets
    // (fingerprints) a pair co-occurs in
    val verified = Dedup.inBucketPairs(
        fps.select(col("id"), col("fp").as("bkey")), maxBucket, statsObs)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val eligible = fps.groupBy(col("id").as("rep"))
      .agg(max("nfp").cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
    Dedup.RepPairs(collapsed, verified, eligible)
  }
}
