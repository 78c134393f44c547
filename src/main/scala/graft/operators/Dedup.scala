package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora.
  *
  * One near-dup skeleton, four legs: MinHash LSH and SimHash here,
  * winnowing in [[Winnow]], embedding cosine in [[Similarity]]. A leg
  * supplies only its group key, its bucket keys and its metric; the
  * rest is shared here:
  *
  *   - [[collapse]] exact duplicates to one representative;
  *   - [[bucketPairs]] (or the co-occurrence count over the same
  *     [[inBucketPairs]]) finds candidate pairs in bounded buckets;
  *   - [[verifyPairs]] scores candidates at representative level;
  *   - the leg returns a [[RepPairs]], which [[memberPairs]] expands
  *     back to member pairs and [[nearDupGroups]] labels as groups.
  *
  * Scale design, shared by every leg:
  *
  *   1. candidates meet only inside an LSH/band/chunk bucket — never an
  *      all-pairs product; the shuffle key is the bucket hash;
  *   2. exact duplicates are collapsed to one representative BEFORE any
  *      LSH stage (the most-duplicated web content — boilerplate,
  *      licenses — is byte-identical, and it is exactly what used to
  *      blow the bucket cap); member pairs are expanded back at the end,
  *      so output semantics are unchanged;
  *   3. bucket shuffles carry (id, bucketKey) ONLY — shingle arrays and
  *      embedding vectors rejoin by id for the exact verification of the
  *      (small) candidate set, instead of being replicated through every
  *      band (a 16x corpus blow-up at bands=16);
  *   4. a bucket still larger than `maxBucket` after exact-collapse is
  *      capped to a deterministic sample (ids sorted, first `maxBucket`)
  *      — recall degrades gracefully instead of the bucket silently
  *      vanishing — and the cap is COUNTED: pass an
  *      [[org.apache.spark.sql.Observation]] as `statsObs` and read
  *      `n_buckets` / `n_oversized_buckets` / `n_docs_dropped` after the
  *      action completes.
  *
  * Note on output size: the pair contract is inherently quadratic in
  * cluster size (a verified 10^4-member cluster IS ~5*10^7 pairs). When a
  * summarized report is enough, use the `*Groups` surfaces, which label
  * members without expanding their pairs.
  *
  * Substring-level dedup (the window family) has one skeleton too:
  * [[windowKeyRows]] is the one window-key recipe of its three
  * operators, and [[removeWindows]] the one span-removal path of the
  * two that cut windows; each cutter supplies only which windows go.
  */
object Dedup {

  // ---------- exact ----------

  /** Exact duplicate groups by normalized-text fingerprint (one
    * shuffle). The fingerprint is 128-bit md5 ([[TextStats.fingerprint]])
    * — the same no-false-merge discipline as [[collapse]]'s group key:
    * at corpus scale (10^10+ docs) a 64-bit key's birthday collisions
    * would silently merge distinct documents into one group.
    */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), TextStats.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(count("*").as("n_dups"), min(idCol).as("keep_id"))
      .filter(col("n_dups") > 1)

  /** Keep one representative per normalized text (min id wins). The
    * group key is the 128-bit md5 fingerprint ([[TextStats.fingerprint]])
    * so no non-duplicate document is ever dropped by a hash collision
    * (the 64-bit birthday bound at 10^11 docs is ~300 expected
    * collisions; 128-bit is ~1e-17).
    * Aggregate-then-join, NOT a window over the fingerprint: a window
    * would land a mega-cluster of identical docs (boilerplate, licenses)
    * on one task; the agg side combines map-side and the join is
    * AQE-skew-splittable (scale rule 2 of the object scaladoc).
    */
  def dropExactDups(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = TextStats.fingerprint(col(textCol))
    val keep = df.select(fp.as("_fp"), col(idCol).as("_keep"))
      .groupBy("_fp").agg(min("_keep").as("_keep"))
    df.withColumn("_fp", fp)
      .join(keep, "_fp")
      .filter(col(idCol) === col("_keep"))
      .drop("_fp", "_keep")
  }

  // ---------- shared scale plumbing ----------

  /** Materialize `df` once and compute the global aggregate `aggs` over
    * it, in the aggregate's own pass: a lazy `localCheckpoint` whose
    * first consumer is that aggregate, a full pass that fills every
    * checkpoint partition, so no separate materialization job runs.
    * Every later scan of the returned frame reads the checkpoint blocks.
    *
    * The one materialization rule of the operators:
    *   - this lazy form when a scalar over the frame is needed anyway;
    *   - eager `localCheckpoint(true)` when the frame's first consumers
    *     run as concurrent stages (two AQE stages of one plan would each
    *     compute a lazy checkpoint's partitions), or when a lineage cut
    *     is needed before any action;
    *   - `persist` only with its `unpersist` in the same `try/finally`;
    *   - never a session-lifetime cache: a persisted plan stays in
    *     CacheManager until unpersisted (ContextCleaner never collects
    *     it, ADVICE r03), so each call would leak a cached copy.
    * Checkpoint blocks belong to a plain RDD that ContextCleaner drops
    * once the returned frames are unreachable, so cache lifetime equals
    * result lifetime. The trade is lineage truncation: an executor lost
    * during a consuming action fails the job instead of recomputing;
    * swap in a reliable `checkpoint` for fault-tolerant production runs.
    */
  private[operators] def checkpointBy(df: DataFrame,
      aggs: Column*): (DataFrame, Row) = {
    val cp = df.localCheckpoint(false)
    (cp, cp.agg(aggs.head, aggs.tail: _*).first())
  }

  /** Result of [[collapse]]: `reps` reads the collapse aggregate
    * materialized by [[checkpointBy]], so banding, the verify rejoin and
    * eligibility never recompute the collapse shuffle. `dupMapping` is
    * None when the corpus has no exact duplicates (n rows == n distinct
    * keys), letting callers skip the mapping join and both expansion
    * branches entirely; when present it holds ONLY members of
    * multi-member groups (rep's own row included) — singleton docs never
    * enter an expansion shuffle.
    */
  private[operators] final case class Collapsed(
      dupMapping: Option[DataFrame], reps: DataFrame,
      nReps: Long, nRows: Long)

  /** Exact-collapse with the representative's payload carried THROUGH
    * the aggregation (min_by): ONE shuffle yields the representative
    * rows, the group sizes, and (via a dup-only join back to the input)
    * the member mapping. Groups stay as ROWS (no collect_list), so a
    * 10^9-member cluster is 10^9 narrow rows, never one driver-sized
    * row; the dup-mapping join is AQE-skew-splittable because the
    * aggregated side has one row per key, and it only carries keys whose
    * group size exceeds 1. The aggregate is checkpointed by its
    * `(nReps, nRows)` counts ([[checkpointBy]]): the counts decide
    * `dupMapping = None` and feed auto-sized LSH keyspaces. Input
    * columns: (id, gk, payload).
    */
  private[operators] def collapse(keyed: DataFrame): Collapsed = {
    val (agg, counts) = checkpointBy(
      keyed.groupBy("gk").agg(min("id").as("rep"),
        min_by(col("payload"), col("id")).as("payload"),
        count(lit(1)).as("_n")),
      count(lit(1)), coalesce(sum("_n"), lit(0L)))
    val (nReps, nRows) = (counts.getLong(0), counts.getLong(1))
    val reps = agg.select(col("rep").as("id"), col("payload"))
    val dupMapping =
      if (nReps == nRows) None
      else Some(agg.filter(col("_n") > 1).select("gk", "rep")
        .join(keyed.select("id", "gk"), "gk")
        .select("id", "rep"))
    Collapsed(dupMapping, reps, nReps, nRows)
  }

  /** Bounded bucket construction from (id, bkey) rows — the cap is
    * enforced BEFORE any per-key array materializes (VERDICT r02 #3):
    * one hash repartition on the bucket key, an in-partition external
    * sort (spillable), then a streaming group-wise fold that keeps only
    * the first `maxBucket` ids per key. Task peak memory is O(maxBucket)
    * regardless of key heat — a 10^7-member boilerplate bucket costs a
    * sorted scan, never a 10^7-element aggregation buffer. The sample is
    * the same deterministic one as before (ids sorted ascending, first
    * maxBucket kept), and caps stay COUNTED via `statsObs`
    * (n_buckets / n_oversized_buckets / n_docs_dropped).
    * Output: (bkey, ids[<=maxBucket], _n = true bucket size), singleton
    * buckets dropped.
    */
  private[operators] def boundedBuckets(banded: DataFrame, maxBucket: Int,
      statsObs: Option[Observation]): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    val grouped = banded
      .select(col("bkey").cast("long"), col("id").cast("long"))
      .repartition(col("bkey"))
      .sortWithinPartitions("bkey", "id")
      .as[(Long, Long)]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(Long, Array[Long], Long)] {
          def hasNext: Boolean = buf.hasNext
          def next(): (Long, Array[Long], Long) = {
            val key = buf.head._1
            val ids = new scala.collection.mutable.ArrayBuffer[Long](8)
            var n = 0L
            while (buf.hasNext && buf.head._1 == key) {
              val id = buf.next()._2
              if (n < maxBucket) ids += id
              n += 1
            }
            (key, ids.toArray, n)
          }
        }
      }
      .toDF("bkey", "ids", "_n")
      .filter(col("_n") >= 2)
    statsObs match {
      case Some(o) => grouped.observe(o,
        count(lit(1)).as("n_buckets"),
        coalesce(sum(when(col("_n") > maxBucket, 1L)), lit(0L))
          .as("n_oversized_buckets"),
        coalesce(sum(when(col("_n") > maxBucket, col("_n") - maxBucket)),
          lit(0L)).as("n_docs_dropped"))
      case None => grouped
    }
  }

  /** Every (id_a < id_b) pair inside each bucket of [[boundedBuckets]],
    * one row per bucket the pair shares — the one in-bucket enumeration
    * behind [[bucketPairs]] (distinct pairs) and [[Winnow]]'s
    * co-occurrence count.
    */
  private[operators] def inBucketPairs(banded: DataFrame, maxBucket: Int,
      statsObs: Option[Observation]): DataFrame =
    boundedBuckets(banded, maxBucket, statsObs)
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
             transform(slice(ids, i + 2, size(ids)), b ->
               struct(a as id_a, b as id_b))))""")).as("p"))
      .select(col("p.id_a"), col("p.id_b"))

  /** Distinct candidate pairs from (id, bkey) rows via [[boundedBuckets]].
    * Output: distinct (id_a < id_b) pairs.
    */
  private[operators] def bucketPairs(banded: DataFrame, maxBucket: Int,
      statsObs: Option[Observation]): DataFrame =
    inBucketPairs(banded, maxBucket, statsObs)
      // guard against a caller-produced bucket holding one id twice (e.g.
      // two band keys of a doc colliding to one 64-bit bkey): a self-pair
      // would survive every verify at similarity 1.0
      .filter(col("id_a") =!= col("id_b"))
      .dropDuplicates("id_a", "id_b")

  /** Exact verify of candidate pairs at representative level: the
    * `payload` of both reps rejoins by id (narrow, checkpointed — see
    * [[Collapsed]]), `score` computes the metric, `keep` filters on it.
    * Only candidates pay the rejoin: projecting shingles or vectors
    * before the join would ship every rep's array through the join
    * shuffle. The candidate set is small, so AQE turns both joins into
    * broadcast joins. Output: (id_a, id_b, metric).
    */
  private[operators] def verifyPairs(cand: DataFrame, reps: DataFrame,
      metric: String, score: (Column, Column) => Column,
      keep: Column => Column): DataFrame = {
    val pa = reps.select(col("id").as("id_a"), col("payload").as("_p_a"))
    val pb = reps.select(col("id").as("id_b"), col("payload").as("_p_b"))
    cand.join(pa, "id_a").join(pb, "id_b")
      .withColumn(metric, score(col("_p_a"), col("_p_b")))
      .filter(keep(col(metric)))
      .select("id_a", "id_b", metric)
  }

  /** One leg's representative-level result, the input of both output
    * surfaces. `verified` is (id_a, id_b, metric) between reps;
    * `eligible` is (rep, metric), one row per rep whose exact group's
    * internal pairs qualify, holding the metric those pairs carry
    * (identical inputs: jaccard 1.0, hamming 0, cos 1.0, or the group's
    * fingerprint count for n_shared). The gate lives in the leg's front,
    * once, so the pair and group surfaces cannot drift apart on it.
    */
  private[operators] final case class RepPairs(collapsed: Collapsed,
      verified: DataFrame, eligible: DataFrame)

  /** The pair surface of every leg: verified rep pairs expanded to
    * member pairs (cross pairs inherit the reps' metric exactly, since
    * identical inputs score identically; internal pairs of an eligible
    * exact group carry `eligible`'s metric). Skipped entirely when the
    * corpus has no exact duplicates.
    */
  private[operators] def memberPairs(rp: RepPairs): DataFrame =
    rp.collapsed.dupMapping match {
      case None => rp.verified
      case Some(mapping) =>
        expandCross(rp.verified, mapping, rp.verified.columns(2))
          .unionByName(expandInternal(mapping, rp.eligible))
    }

  /** The group surface of every leg: [[groupsFromRepPairs]] over the
    * verified rep pairs and the eligible reps.
    */
  private[operators] def nearDupGroups(rp: RepPairs): DataFrame =
    groupsFromRepPairs(rp.collapsed, rp.verified.select("id_a", "id_b"),
      rp.eligible.select("rep"))

  /** Expand verified representative pairs to member pairs: every member
    * of rep_a's exact group pairs with every member of rep_b's, carrying
    * the verified metric column. `mapping` is the DUP-ONLY mapping of
    * [[collapse]], so the joins are left joins with identity fallback —
    * singleton reps stream through the (usually broadcast) join
    * unexpanded instead of shuffling through a full-corpus mapping.
    */
  private def expandCross(repPairs: DataFrame, mapping: DataFrame,
      metric: String): DataFrame =
    repPairs
      .join(mapping.select(col("rep").as("id_a"), col("id").as("_ma")),
        Seq("id_a"), "left")
      .join(mapping.select(col("rep").as("id_b"), col("id").as("_mb")),
        Seq("id_b"), "left")
      .select(
        least(coalesce(col("_ma"), col("id_a")),
          coalesce(col("_mb"), col("id_b"))).as("id_a"),
        greatest(coalesce(col("_ma"), col("id_a")),
          coalesce(col("_mb"), col("id_b"))).as("id_b"),
        col(metric))

  /** Internal pairs of each exact group restricted to eligible reps:
    * (id_a < id_b, metric) member pairs, the metric taken from
    * `eligible` (rep, metric). `eligible` has one row per rep, so the
    * inner join multiplies no rows. `mapping` is dup-only, so singleton
    * groups never reach the self-join; rep-member pairs come straight
    * off the dup rows since rep = min(id) < member id.
    */
  private def expandInternal(mapping: DataFrame,
      eligible: DataFrame): DataFrame = {
    val metric = eligible.columns(1)
    val dups = mapping.filter(col("id") =!= col("rep")).join(eligible, "rep")
    val repPairs = dups.select(col("rep").as("id_a"), col("id").as("id_b"),
      col(metric))
    val dupPairs = dups.select(col("rep"), col("id").as("id_a"), col(metric))
      .join(dups.select(col("rep"), col("id").as("id_b")), "rep")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", metric)
    repPairs.unionByName(dupPairs)
  }

  /** Positional n-token window keys over a (_id, _tk) frame: one row
    * per window start, `(_id, _pos, _wk = md5(space-joined window))`.
    * Window start positions exist only when the doc has >= n tokens (an
    * unguarded sequence(0, size-n) would COUNT DOWN for short docs —
    * Spark's sequence defaults to step -1 when start > stop). The one
    * window-key recipe of the three window operators
    * ([[crossDocRepeatedWindows]] and the two [[removeWindows]]
    * callers), so their keys cannot drift apart.
    */
  private def windowKeyRows(base: DataFrame, n: Int): DataFrame =
    base.select(col("_id"),
        posexplode(when(size(col("_tk")) >= n,
          transform(sequence(lit(0), size(col("_tk")) - n),
            j => md5(array_join(slice(col("_tk"), j + 1, lit(n)), " "))))
          .otherwise(array())))
      .toDF("_id", "_pos", "_wk")

  /** The span-removal skeleton of the two window-cutting operators,
    * [[removeRepeatedWindows]] and [[Curation.removeContaminatedSpans]]
    * (the removal mechanics of Lee et al. ACL'22). `cut` receives the
    * `(_id, _pos, _wk)` window frame ([[windowKeyRows]]) of the
    * NORMALIZED token streams ([[TextStats.normalize]]) and returns the
    * windows to remove, with at least `_id` and `_pos`; every token
    * covered by a cut window is removed. Output: (idCol, text_clean),
    * the surviving tokens joined by single spaces, which the q59/q76
    * oracles replay in DuckDB byte for byte. A fully covered document
    * yields "" (row kept; dropping it is the caller's policy choice);
    * a document with no cut window, or fewer than `n` tokens, passes
    * through as its normalized text.
    *
    * Ids keep their own type: string/UUID ids (the web-corpus norm)
    * must join as themselves, where a cast to long would null every id
    * and silently no-op the operator.
    *
    * Scale shape: only CUT windows expand into covered positions, so
    * the covered frame is proportional to the removed spans, not the
    * corpus. It carries the checkpoint (eager, [[checkpointBy]]), whose
    * lineage cut makes the rebuild's anti-join an honest two-sided join
    * rather than a self-join. Only the documents owning a covered
    * position pay the token explode and the full-width rebuild (the
    * token stream is left-semi'd to the affected ids); at corpus scale
    * the overwhelmingly common document passes through untouched. The
    * per-doc collect in the rebuild is bounded by the doc's own token
    * count, the same bound as holding the row's text.
    */
  private[operators] def removeWindows(df: DataFrame, textCol: String,
      idCol: String, n: Int)(cut: DataFrame => DataFrame): DataFrame = {
    val base = df.select(col(idCol).as("_id"),
      split(TextStats.normalize(col(textCol)), " ").as("_tk"))
    val covered = cut(windowKeyRows(base, n))
      .select(col("_id"),
        explode(sequence(col("_pos"), col("_pos") + (n - 1))).as("_cpos"))
      .distinct()
      .localCheckpoint(true)
    val affectedIds = covered.select("_id").distinct()
    val toks = base.join(affectedIds, Seq("_id"), "left_semi")
      .select(col("_id"), posexplode(col("_tk")).as(Seq("_pos", "_tok")))
    val rebuilt = toks.join(covered,
        toks("_id") === covered("_id") && col("_pos") === col("_cpos"),
        "left_anti")
      .groupBy("_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("_pos").as("p"),
          col("_tok").as("t")))), s => s.getField("t")), " ")
        .as("_clean"))
    val cleaned = affectedIds.join(rebuilt, Seq("_id"), "left")
      .select(col("_id"), coalesce(col("_clean"), lit("")).as("_clean"))
    df.select(col(idCol), col(idCol).as("_id"),
        TextStats.normalize(col(textCol)).as("_norm"))
      .join(cleaned, Seq("_id"), "left")
      .select(col(idCol),
        coalesce(col("_clean"), col("_norm")).as("text_clean"))
  }

  // ---------- cross-document repeated windows ----------

  /** Cross-document repeated-window report — the detection half of
    * substring-level dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22): per document, how many of
    * its positional word `n`-gram windows also occur in at least one
    * OTHER document. High `n_dup_windows / n_windows` flags boilerplate
    * spans duplicated across the corpus even when whole-document
    * similarity is far below any near-dup threshold. Documents with
    * fewer than `n` tokens have no windows and are absent.
    *
    * Scale shape: windows travel as (id, md5-key) rows only; the
    * (doc, key) multiplicity aggregate and the key-frequency aggregate
    * are both map-side combinable; the cross-doc key set joins back as
    * a semi-join whose aggregated side has one row per key, so a
    * boilerplate key shared by millions of docs is AQE-skew-splittable
    * (the [[collapse]] argument). The (doc, key) frame is materialized
    * once across its three scans (eager, [[checkpointBy]]).
    */
  def crossDocRepeatedWindows(df: DataFrame, textCol: String,
                              idCol: String, n: Int = 8): DataFrame = {
    val wins = windowKeyRows(df.select(col(idCol).cast("long").as("_id"),
        split(TextStats.normalize(col(textCol)), " ").as("_tk")), n)
      .select(col("_id").as("id"), col("_wk"))
    val perDocKey = wins.groupBy("id", "_wk")
      .agg(count(lit(1)).as("_m"))
      .localCheckpoint(true)
    val crossKeys = perDocKey.groupBy("_wk")
      .agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= 2)
      .select(col("_wk"), lit(true).as("_x"))
    // ONE left join + ONE per-doc aggregate compute both counts (guide
    // §2.3 "aggregate before you shuffle" / §2.4 shared exchange): the
    // old shape ran a totals aggregate, a semi-join + dups aggregate,
    // and a totals-left-join-dups — three shuffles over the same
    // (id, _wk, _m) frame. The cross-doc flag join is unchanged in
    // shape (aggregated side has one row per key — AQE-skew-splittable),
    // and n_windows / n_dup_windows are conditional sums of the same
    // rows, so the result is row-identical (q51 oracle hash match).
    perDocKey.join(crossKeys, Seq("_wk"), "left")
      .groupBy("id")
      .agg(sum("_m").as("n_windows"),
        coalesce(sum(when(col("_x"), col("_m"))), lit(0L))
          .as("n_dup_windows"))
      .select("id", "n_windows", "n_dup_windows")
  }

  /** Cross-document repeated-window REMOVAL — the rewrite half of
    * substring-level dedup (Lee et al. ACL'22; [[crossDocRepeatedWindows]]
    * is the detection half). A positional word `n`-gram window whose
    * content occurs in at least one OTHER document is cut from every
    * document except the keeper (the minimum id among the documents
    * containing that window — "keep first occurrence corpus-wide", in
    * the id's own ordering: numeric for longs, lexicographic for
    * strings); every token covered by at least one cut window is
    * removed ([[removeWindows]], which also states the output).
    *
    * Scale shape: windows travel as (id, pos, md5-key) rows; the window
    * frame is materialized once (eager, [[checkpointBy]]) and scanned
    * twice (key aggregation + the drop join). The keeper/frequency
    * aggregate has one row per key, so a boilerplate key in millions of
    * docs joins skew-splittably. Only DROPPED windows are cut (the
    * [[Winnow]] dup-only rule), so the rebuild is proportional to the
    * duplicated spans, not the corpus.
    */
  def removeRepeatedWindows(df: DataFrame, textCol: String, idCol: String,
                            n: Int = 8): DataFrame =
    removeWindows(df, textCol, idCol, n) { wins =>
      val winRows = wins.localCheckpoint(true)
      val keys = winRows.select("_id", "_wk").distinct()
        .groupBy("_wk").agg(min("_id").as("_keeper"), count(lit(1)).as("_nd"))
        .filter(col("_nd") >= 2)
        .select("_wk", "_keeper")
      winRows.join(keys, "_wk").filter(col("_id") =!= col("_keeper"))
    }

  // ---------- shingles / jaccard ----------

  /** Evaluate `c` ONCE and pass the value to `f` as a bound lambda
    * variable. Referencing a column tree from inside a higher-order
    * function's lambda re-evaluates the whole tree per element
    * (Catalyst does no cross-invocation CSE inside lambdas) — for a
    * tokenization tree under a per-token transform that is O(tokens^2)
    * regex work, measured at ~1.7 ms/doc vs ~30 us bound on q41's
    * shingling. The single-element transform binds the
    * value as a NamedLambdaVariable: inner references become variable
    * reads.
    */
  private[operators] def bindOnce(c: Column, f: Column => Column): Column =
    element_at(transform(array(c), v => f(v)), 1)

  /** Word k-shingles of normalized text — the native codegen'd
    * [[graft.functions.WordShingles]] (byte-identical shingle strings
    * to the HOF form [[wordShinglesHof]] it replaced in r05; the
    * shingle strings feed md5 keys the DuckDB oracles recompute, so
    * parity is load-bearing).
    */
  def wordShingles(textCol: Column, k: Int): Column =
    graft.functions.WordShingles.wordShingles(TextStats.normalize(textCol), k)

  /** The pre-r05 higher-order-function form, kept as the executable
    * parity reference for WordShinglesSpec (interpreted — do not use
    * on hot paths).
    */
  private[graft] def wordShinglesHof(textCol: Column, k: Int): Column =
    bindOnce(split(TextStats.normalize(textCol), " "), tokens =>
      // sliding windows via transform over indexes; empty when < k tokens
      array_distinct(filter(
        transform(tokens, (_, i) =>
          when(i <= size(tokens) - k,
            array_join(slice(tokens, i + 1, lit(k)), " "))),
        x => x.isNotNull)))

  /** Exact Jaccard between two string arrays (set semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val uni = size(array_union(a, b))
    when(uni === 0, lit(0.0)).otherwise(inter.cast("double") / uni)
  }

  // ---------- MinHash + LSH ----------

  // deterministic seeded hash family parameters (odd multipliers)
  private lazy val hashFamily: Array[Long] = {
    val rnd = new scala.util.Random(0x5eed5eedL)
    Array.fill(256)(rnd.nextLong() | 1L)
  }

  /** Word k-shingle set in plain Scala (the typed fast path). */
  def shingleSet(text: String, k: Int): Array[String] = {
    if (text == null) return Array.empty
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < k) return Array.empty
    val set = new scala.collection.mutable.LinkedHashSet[String]
    var i = 0
    while (i + k <= toks.length) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      set += sb.toString
      i += 1
    }
    set.toArray
  }

  /** One-pass MinHash signature: one strong base hash per shingle, the
    * family derived by multiply-xorshift mixing — O(shingles x numHashes)
    * cheap long ops instead of numHashes string rehashes.
    */
  def minhashSig(shingles: Array[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var s = 0
    while (s < shingles.length) {
      val str = shingles(s)
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < str.length) { h ^= str.charAt(i); h *= 0x100000001b3L; i += 1 }
      var f = 0
      while (f < numHashes) {
        var v = h * hashFamily(f)
        v ^= (v >>> 33); v *= 0xff51afd7ed558ccdL; v ^= (v >>> 33)
        if (v < sig(f)) sig(f) = v
        f += 1
      }
      s += 1
    }
    sig
  }

  /** Band keys of a signature (band index mixed into the key). */
  private def bandKeyArray(sig: Array[Long], bands: Int,
      rowsPerBand: Int): Array[Long] =
    Array.tabulate(bands) { b =>
      var h = 0x9e3779b97f4a7c15L + b
      var r = 0
      while (r < rowsPerBand) {
        h ^= sig(b * rowsPerBand + r)
        h *= 0xff51afd7ed558ccdL
        r += 1
      }
      h
    }

  /** Near-duplicate pairs via MinHash LSH, verified with exact Jaccard.
    *
    * Pipeline (scale rules 1-4 above): the MinHash front
    * ([[minhashRepPairs]]) then [[memberPairs]]; internal pairs of an
    * exact group carry Jaccard 1.0.
    *
    * The checkpointed collapse aggregate means every downstream scan
    * (band signatures, both verify rejoins, the eligibility gate) reads
    * it instead of recomputing the collapse shuffle; the one extra
    * input scan is the dup-mapping join, and only when dups exist.
    *
    * @param maxBucket per-bucket candidate cap AFTER exact-collapse: an
    *                  oversized bucket contributes a deterministic
    *                  `maxBucket`-doc sample instead of vanishing; pass
    *                  `statsObs` to count capped buckets/docs
    */
  def minhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, maxBucket: Int = 64,
      statsObs: Option[Observation] = None): DataFrame =
    memberPairs(minhashRepPairs(df, textCol, idCol, shingleK, numHashes,
      bands, threshold, maxBucket, statsObs))

  /** Transitive near-dup GROUP labeling `(id, group_id)` WITHOUT the
    * quadratic member-pair expansion: connected components run over the
    * verified REPRESENTATIVE pairs only, and exact-group members attach
    * by one (broadcast-sized) mapping join afterwards. The pair surface
    * ([[minhashNearDups]]) is inherently quadratic in exact-cluster
    * size (a 10^4-member boilerplate cluster IS ~5*10^7 pairs); group
    * labeling never needs those pairs — a member's group is its rep's
    * component, and the component minimum over members equals the
    * minimum over reps (each rep is already its group's min id). Output
    * is row-for-row identical to
    * `Components.dupGroups(minhashNearDups(...))` (pinned by
    * ComponentsSpec) at O(reps + dup members) instead of
    * O(sum cluster^2).
    */
  def minhashNearDupGroups(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, maxBucket: Int = 64,
      statsObs: Option[Observation] = None): DataFrame =
    nearDupGroups(minhashRepPairs(df, textCol, idCol, shingleK, numHashes,
      bands, threshold, maxBucket, statsObs))

  /** Shared labeling tail for every near-dup `*Groups` variant:
    * connected components over the verified representative pairs, then
    * exact-group members attach through the dup-only mapping (the rep's
    * component when the rep is paired, else the rep id — such groups
    * are dup groups by themselves). `eligibleReps` is the family's
    * internal-pair gate (single `rep` column): exact groups excluded by
    * it (e.g. shingle-less texts, zero vectors) contribute no labels,
    * matching the pair surface's expansion semantics exactly.
    */
  private[operators] def groupsFromRepPairs(collapsed: Collapsed,
      repPairs: DataFrame, eligibleReps: DataFrame): DataFrame = {
    val repLabels = Components.connectedComponents(repPairs)
    collapsed.dupMapping match {
      case None =>
        repLabels.select(col("id"), col("component").as("group_id"))
      case Some(mapping) =>
        // a member is labeled when its rep is PAIRED (component inherited
        // — eligibility is irrelevant, matching expandCross, which
        // expands cross pairs unconditionally) or when its group is
        // unpaired but ELIGIBLE (label = rep id, matching
        // expandInternal's gate)
        val memberLabels = mapping
          .join(repLabels.withColumnRenamed("id", "rep"), Seq("rep"), "left")
          .join(eligibleReps.withColumn("_eligible", lit(true)),
            Seq("rep"), "left")
          .filter(col("component").isNotNull || col("_eligible"))
          .select(col("id"),
            coalesce(col("component"), col("rep")).as("group_id"))
        val singlePaired = repLabels
          .join(mapping.select(col("rep").as("id")).distinct(),
            Seq("id"), "left_anti")
          .select(col("id"), col("component").as("group_id"))
        memberLabels.unionByName(singlePaired)
    }
  }

  /** The MinHash leg's front: collapse on the normalized text's md5 ->
    * per-rep signatures -> (id, bandKey)-only banding -> bounded
    * candidate pairs -> exact-Jaccard [[verifyPairs]] on the rep texts.
    * Eligible reps have >= 1 shingle (the banding-stage gate); their
    * internal pairs carry jaccard 1.0.
    */
  private def minhashRepPairs(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int, numHashes: Int, bands: Int,
      threshold: Double, maxBucket: Int,
      statsObs: Option[Observation]): RepPairs = {
    val rowsPerBand = numHashes / bands
    val spark = df.sparkSession
    import spark.implicits._
    // exact-dup collapse (128-bit key: no false merges); the text
    // payload rides the collapse agg, so reps need no recovery join
    val collapsed = collapse(df.select(col(idCol).cast("long").as("id"),
      md5(TextStats.normalize(col(textCol))).as("gk"),
      col(textCol).as("payload")))
    val reps = collapsed.reps

    // banding: (id, bandKey) rows ONLY through the shuffle
    val banded = reps.as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val sh = shingleSet(text, shingleK)
        if (sh.isEmpty) Iterator.empty
        else {
          val sig = minhashSig(sh, numHashes)
          bandKeyArray(sig, bands, rowsPerBand).iterator.map(k => (id, k))
        }
      })
      .toDF("id", "bkey")

    val verified = verifyPairs(bucketPairs(banded, maxBucket, statsObs),
      reps, "jaccard",
      (a, b) => round(jaccard(wordShingles(a, shingleK),
        wordShingles(b, shingleK)), 6),
      _ >= threshold)
    val eligible = reps
      .filter(size(wordShingles(col("payload"), shingleK)) >= 1)
      .select(col("id").as("rep"), lit(1.0).as("jaccard"))
    RepPairs(collapsed, verified, eligible)
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash over word tokens: per-bit weighted vote of token
    * hashes. Implemented as a typed map (bit loops don't vectorize into
    * `functions._` cleanly); allocation-light per row.
    */
  def simhash64(tokens: Iterable[String]): Long = {
    val votes = new Array[Int](64)
    for (t <- tokens) {
      // FNV-1a 64 then mix — deterministic, dependency-free
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < t.length) { h ^= t.charAt(i); h *= 0x100000001b3L; i += 1 }
      h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** 5 chunks of the 64-bit signature: 13+13+13+13+12 bits. */
  private[operators] def simhashChunks(sig: Long): Array[Int] = Array(
    (sig & 0x1fff).toInt,
    ((sig >>> 13) & 0x1fff).toInt,
    ((sig >>> 26) & 0x1fff).toInt,
    ((sig >>> 39) & 0x1fff).toInt,
    ((sig >>> 52) & 0xfff).toInt)

  /** Multi-table bucket keys, Manku-style (Manku, Jain & Das Sarma,
    * "Detecting Near-Duplicates for Web Crawling", WWW 2007 — public
    * knowledge): one key per PAIR of chunks, C(5,2) = 10 tables, each
    * keyed on ~2^26 values (13+13 bits, table id in the high bits).
    * Hamming <= 3 flips touch at most 3 of the 5 chunks, leaving >= 2
    * clean chunks, so the pair of clean chunks collides in its table —
    * the recall guarantee of the old single-chunk pigeonhole is kept
    * while the per-table keyspace grows from 2^16 to ~2^26: at 10^9 docs
    * the expected bucket occupancy is ~15 per table instead of ~15000.
    */
  private[operators] def simhashPairKeys(sig: Long): Array[Long] = {
    val c = simhashChunks(sig)
    val out = new Array[Long](10)
    var t = 0
    var i = 0
    while (i < 4) {
      var j = i + 1
      while (j < 5) {
        out(t) = (t.toLong << 32) | (c(i).toLong << 13) | c(j).toLong
        t += 1
        j += 1
      }
      i += 1
    }
    out
  }

  /** SimHash near-dup pairs: multi-table chunk-pair keying (recall
    * guarantee for hamming <= 3, see [[simhashPairKeys]]), hamming
    * verified exactly on the candidate set. Same scale pipeline as
    * [[minhashNearDups]]: identical signatures (hamming 0) collapse to a
    * representative before keying — this collapse is semantically exact,
    * not a hash approximation — and expand back afterwards.
    */
  def simhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 64,
                      statsObs: Option[Observation] = None): DataFrame =
    memberPairs(
      simhashRepPairs(df, textCol, idCol, maxHamming, maxBucket, statsObs))

  /** Transitive SimHash GROUP labeling `(id, group_id)` — the
    * [[minhashNearDupGroups]] construction for the signature leg:
    * connected components over verified representative pairs plus one
    * mapping join, never the quadratic member-pair expansion. Every
    * exact signature group is internally eligible (hamming 0).
    */
  def simhashNearDupGroups(df: DataFrame, textCol: String, idCol: String,
                           maxHamming: Int = 3, maxBucket: Int = 64,
                           statsObs: Option[Observation] = None): DataFrame =
    nearDupGroups(
      simhashRepPairs(df, textCol, idCol, maxHamming, maxBucket, statsObs))

  /** The SimHash leg's front: signature map -> exact collapse on the
    * signature -> chunk-pair keys -> bounded candidate pairs -> exact
    * hamming [[verifyPairs]] on the rep signatures. Every signature
    * group is eligible; its internal pairs carry hamming 0. A document
    * without tokens gets no signature and is in no pair or group.
    */
  private def simhashRepPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int, maxBucket: Int,
      statsObs: Option[Observation]): RepPairs = {
    require(maxHamming <= 3,
      "chunk-pair keying guarantees recall only for hamming <= 3 " +
        "(5 chunks - maxHamming flipped must leave >= 2 clean)")
    val spark = df.sparkSession
    import spark.implicits._
    val sigs = df.select(col(idCol).cast("long").as("id"),
        col(textCol).as("text"))
      .as[(Long, String)]
      // a NULL or blank text has no tokens and so no signature: signature
      // 0 would pair it with every other token-less document at hamming 0
      .flatMap { case (id, text) =>
        val toks = if (text == null) Array.empty[String]
                   else text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        if (toks.isEmpty) None else Some((id, simhash64(toks)))
      }
      .toDF("id", "sig")

    // exact collapse on the full signature (hamming 0 — exact semantics;
    // the group key IS the payload)
    val collapsed = collapse(
      sigs.select(col("id"), col("sig").as("gk"), col("sig").as("payload")))
    val reps = collapsed.reps

    // (id, tableKey) rows only through the shuffle
    val keyed = reps.as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, sig) =>
        simhashPairKeys(sig).iterator.map(k => (id, k))
      })
      .toDF("id", "bkey")
    val verified = verifyPairs(bucketPairs(keyed, maxBucket, statsObs),
      reps, "hamming", (a, b) => bit_count(a.bitwiseXOR(b)),
      _ <= maxHamming)
    RepPairs(collapsed, verified,
      reps.select(col("id").as("rep"), lit(0).as("hamming")))
  }
}
