package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup: benchmark decontamination, repetition-based quality
  * filtering, and deterministic content-stable sampling. All published
  * techniques (the C4/MassiveText-style curation stages described in
  * public literature); everything here composes `functions._` columns so
  * the hot paths stay inside whole-stage codegen.
  */
object Curation {

  /** Non-distinct word n-grams of normalized text (codegen'd; the
    * multiset counterpart of [[Dedup.wordShingles]]).
    */
  def wordNgrams(c: Column, n: Int): Column =
    Dedup.bindOnce(split(TextStats.normalize(c), " "), tokens =>
      filter(
        transform(tokens, (_, i) =>
          when(i <= size(tokens) - n,
            array_join(slice(tokens, i + 1, lit(n)), " "))),
        x => x.isNotNull))

  /** Duplicated-n-gram fraction in [0,1]: 1 - distinct/total n-grams —
    * the standard repetition quality gate (high values flag degenerate
    * boilerplate/spam); 0 when the text has fewer than n tokens.
    */
  def repetitionRatio(c: Column, n: Int = 2): Column =
    Dedup.bindOnce(wordNgrams(c, n), g =>
      when(size(g) <= 0, lit(0.0))
        .otherwise(lit(1.0) -
          size(array_distinct(g)).cast("double") / size(g)))

  /** Benchmark decontamination: drop corpus docs sharing at least one
    * word k-shingle with ANY benchmark doc (the overlap rule used to
    * keep eval data out of training corpora).
    *
    * Scale shape: the benchmark side is distinct shingle KEYS only
    * (md5 — 128-bit, collision-free in practice, and recomputable by
    * the DuckDB oracle) and is tiny relative to the corpus (eval suites
    * are hand-built), so Spark broadcasts it and the corpus-side
    * semi-join + anti-join run MAP-SIDE: the corpus is never shuffled,
    * only scanned. The shingle explode is corpus-local and feeds the
    * distinct contaminated-id set (one narrow shuffle over matching ids
    * only).
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    textCol: String, idCol: String,
                    shingleK: Int = 8): DataFrame = {
    val bKeys = benchmark
      .select(explode(Dedup.wordShingles(col(textCol), shingleK)).as("_sh"))
      .select(md5(col("_sh")).as("_shk"))
      .distinct()
    val contaminated = corpus
      .select(col(idCol),
        explode(Dedup.wordShingles(col(textCol), shingleK)).as("_sh"))
      .select(col(idCol), md5(col("_sh")).as("_shk"))
      .join(broadcast(bKeys), "_shk")
      .select(idCol)
      .distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Span-level decontamination — the SURGICAL form of [[decontaminate]]
    * (the ACL'22 removal mechanics pointed at a benchmark key set):
    * instead of dropping every document that shares a k-shingle with
    * the benchmark, cut ONLY the overlapping n-token windows and keep
    * the rest of the text — the form that preserves training data when
    * contamination is a quoted snippet inside an otherwise-clean doc.
    *
    * Scale shape: benchmark keys are distinct md5 shingles, broadcast
    * (the [[decontaminate]] discipline — the corpus side is scanned,
    * never shuffled, for the match); only CONTAMINATED docs explode
    * their token streams for the rebuild (left-semi against the
    * matched-id set), so the expensive half is proportional to the
    * contaminated slice, not the corpus. Clean docs pass through as
    * their normalized text. Output: (idCol, text_clean); a fully
    * covered doc yields "".
    */
  def removeContaminatedSpans(corpus: DataFrame, benchmark: DataFrame,
                              textCol: String, idCol: String,
                              n: Int = 8): DataFrame = {
    val bKeys = benchmark
      .select(explode(Dedup.wordShingles(col(textCol), n)).as("_sh"))
      .select(md5(col("_sh")).as("_wk")).distinct()
    // no id cast: string/UUID ids (the web-corpus norm) must join as
    // themselves — a silent cast-to-null would no-op the whole operator
    val base = corpus.select(col(idCol).as("_id"),
      split(TextStats.normalize(col(textCol)), " ").as("_tk"))
    // covered positions carry the checkpoint (NOT the corpus-sized
    // window frame): its footprint is proportional to the CONTAMINATED
    // windows only, and the lineage cut is what makes the toks join
    // below an honest two-sided join rather than a self-join
    val covered = Dedup.windowKeyRows(base, n)
      .join(broadcast(bKeys), "_wk")
      .select(col("_id"),
        explode(sequence(col("_pos"), col("_pos") + (n - 1))).as("_cpos"))
      .distinct()
      .localCheckpoint(true)
    val contaminatedIds = covered.select("_id").distinct()
    val toks = base.join(contaminatedIds, Seq("_id"), "left_semi")
      .select(col("_id"), posexplode(col("_tk")).as(Seq("_pos", "_tok")))
    val rebuilt = contaminatedIds.join(
        Dedup.rebuildWithoutCovered(toks, covered), Seq("_id"), "left")
      .select(col("_id"),
        coalesce(col("text_clean"), lit("")).as("_clean"))
    corpus.select(col(idCol), col(idCol).as("_id"),
        TextStats.normalize(col(textCol)).as("_norm"))
      .join(rebuilt, Seq("_id"), "left")
      .select(col(idCol),
        coalesce(col("_clean"), col("_norm")).as("text_clean"))
  }

  /** Deterministic content-stable sampling: keep rows whose
    * md5(key || salt) hex prefix sorts below `hexThreshold` — the keep
    * fraction is int(hexThreshold, 16) / 16^len(hexThreshold). Stable
    * across runs, partitionings and engines (md5 is everywhere), and
    * needs NO shuffle — it is a pushable filter, the only sampling
    * discipline that stays reproducible when the input layout changes.
    */
  def hashSample(df: DataFrame, keyCol: Column,
                 hexThreshold: String, salt: String = "graft"): DataFrame =
    df.filter(
      substring(md5(concat(keyCol.cast("string"), lit(salt))), 1,
        hexThreshold.length) < lit(hexThreshold))

  /** Weighted corpus-mixture sampling: keep each stratum (source,
    * language, domain...) at its own fraction — the training-mixture
    * primitive ("sample CommonCrawl at 0.3, books at 1.0"). Same
    * discipline as [[hashSample]]: content-stable md5 order against a
    * per-stratum 8-hex-digit threshold (`floor(fraction * 16^8)`), so
    * the decision is a pushable, shuffle-free filter reproducible
    * across runs, partitionings and engines. Strata absent from
    * `fractions` are DROPPED (an unlisted source is an unsampled
    * source). Threshold granularity is 1/2^32 — below that a fraction
    * rounds to 0.
    */
  def mixtureSample(df: DataFrame, keyCol: Column, stratumCol: String,
                    fractions: Map[String, Double],
                    salt: String = "graft"): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1),
      "fractions must be in [0, 1]")
    val h = substring(md5(concat(keyCol.cast("string"), lit(salt))), 1, 8)
    val keep = fractions.foldLeft(lit(false)) { case (acc, (stratum, f)) =>
      // f = 1 must keep everything: its 0x100000000 threshold is 9 hex
      // digits, which string-compares BELOW "f..." — special-case it
      val cond =
        if (f >= 1.0) lit(true)
        else h < lit(f"${math.floor(f * 4294967296.0).toLong}%08x")
      when(col(stratumCol) === stratum, cond).otherwise(acc)
    }
    df.filter(keep)
  }

  /** Exactly n KEYS per stratum, chosen by hash order (deterministic,
    * content-stable). `keyCol` is expected to be unique within each
    * stratum (a doc id); the rank runs over the DISTINCT (stratum, key)
    * projection so duplicate-key inputs still rank each key once with a
    * deterministic hash order (ADVICE r03) — but the semi-join then
    * keeps EVERY row of a selected key, so with duplicate keys the
    * output is "n keys per stratum", not "n rows" (the q43 oracle
    * relies on doc_id uniqueness). The rank runs over a NARROW
    * (stratum, key, hash) projection — the same discipline as
    * ExtractPipeline.withConvOrder: the per-stratum exchange ships
    * ~50-byte rows and the payload rejoins on (stratum, key). A stratum
    * bigger than one task's sort budget spills (external sort); for
    * corpus-scale strata where exact n is not required, [[hashSample]]
    * with a per-stratum threshold is the shuffle-free alternative.
    */
  def stratifiedTake(df: DataFrame, stratumCol: String, keyCol: String,
                     nPerStratum: Int): DataFrame = {
    val w = Window.partitionBy(stratumCol)
      .orderBy(col("_hk"), col(keyCol))
    val keep = df.select(col(stratumCol), col(keyCol)).distinct()
      .withColumn("_hk", md5(col(keyCol).cast("string")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= nPerStratum)
      .select(stratumCol, keyCol)
    df.join(keep, Seq(stratumCol, keyCol), "left_semi")
  }

  // ---------- sequence packing ----------

  /** Deterministic contiguous sequence packing: each doc is assigned to
    * the fixed-size training window its cumulative token offset starts
    * in — `pack_id = floor(cum_before / window)`, `pack_offset =
    * cum_before % window` (a doc may straddle its window's end; the
    * consumer splits or pads, this operator pins the reproducible
    * layout). This GLOBAL-order form runs one total sort (a single-task
    * window) — it is the oracled, test-scale form. At corpus scale use
    * [[packSequencesBy]]: per-stratum packing under
    * `Window.partitionBy`, which shuffles once on the stratum key and
    * packs each stratum independently (pack identity = (stratum,
    * pack_id)) — the layout a sharded training job reads anyway.
    */
  def packSequences(df: DataFrame, countCol: Column, orderCol: String,
                    window: Int): DataFrame = {
    val w = Window.orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("_cum0", coalesce(sum(countCol).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("_cum0") / window))
      .withColumn("pack_offset", col("_cum0") % window)
      .drop("_cum0")
  }

  /** Per-stratum packing (the scale form of [[packSequences]]): the
    * window runs over a NARROW (stratum, order, count) projection — the
    * stratifiedTake discipline — and the payload rejoins on the
    * (stratum, order) key, so the per-stratum exchange ships ~30-byte
    * rows, never the text.
    */
  def packSequencesBy(df: DataFrame, countCol: Column, stratumCol: String,
                      orderCol: String, window: Int): DataFrame = {
    val w = Window.partitionBy(stratumCol).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val packed = df.select(col(stratumCol), col(orderCol),
        countCol.as("_n"))
      .withColumn("_cum0", coalesce(sum(col("_n")).over(w), lit(0L)))
      .select(col(stratumCol), col(orderCol),
        floor(col("_cum0") / window).as("pack_id"),
        (col("_cum0") % window).as("pack_offset"))
    df.join(packed, Seq(stratumCol, orderCol))
  }

  // ---------- unigram quality scoring ----------

  /** Unigram log-probability quality score (the MassiveText-style
    * statistic): per doc, the mean natural log of each token's
    * probability under the corpus's own top-`vocab` unigram
    * distribution; out-of-vocabulary tokens get the floor probability
    * `1/total_tokens`. Low scores flag token-soup/degenerate docs; high
    * scores flag stopword-only boilerplate. Docs with zero tokens are
    * absent from the output.
    *
    * Scale shape: token counts are one map-side-combinable shuffle; the
    * top-V vocabulary is a TakeOrdered (driver-sized BY DESIGN — V is a
    * model hyperparameter, not corpus-scaled) re-broadcast to the
    * scoring join, which therefore stays map-side; the per-doc average
    * partial-aggregates before its shuffle (explode preserves row
    * locality, so a doc's tokens collapse to one partial in its source
    * partition). Two jobs total (the corpus token total is a scalar
    * consumed by the probability floor).
    */
  def unigramLogProb(df: DataFrame, textCol: String, idCol: String,
                     vocab: Int = 4096): DataFrame = {
    val toks = df.select(col(idCol),
        explode(split(TextStats.normalize(col(textCol)), " ")).as("_tok"))
      .filter(col("_tok") =!= "")
    // LAZY localCheckpoint, not persist: persist would pin the token
    // counts in CacheManager for the session lifetime (ContextCleaner
    // does not collect cached plans — ADVICE r03); checkpoint blocks are
    // dropped once the result frame is unreachable. Lazy because the
    // total-count action right below computes every partition and
    // materializes the checkpoint as a side effect (one job instead of
    // the eager form's materialize-then-count two).
    val counts = toks.groupBy("_tok").agg(count(lit(1)).as("_c"))
      .localCheckpoint(false)
    val total = counts.agg(coalesce(sum("_c"), lit(0L))).first().getLong(0)
    val result =
      if (total == 0L) {
        // preserve the id column's TYPE in the empty result (a literal
        // schema here would make the output schema data-dependent)
        df.select(col(idCol), lit(0.0).as("logprob"),
          lit(0L).as("n_tokens")).limit(0)
      } else {
        val vocabDf = counts.orderBy(col("_c").desc, col("_tok"))
          .limit(vocab)
          .select(col("_tok"), (col("_c").cast("double") / total).as("_p"))
        toks.join(broadcast(vocabDf), Seq("_tok"), "left")
          .select(col(idCol),
            coalesce(col("_p"), lit(1.0 / total)).as("_p"))
          .groupBy(idCol)
          .agg(avg(log(col("_p"))).as("logprob"),
            count(lit(1)).as("n_tokens"))
      }
    result
  }

  /** Interpolated bigram language-model scoring (Jelinek-Mercer): per
    * doc, the mean over adjacent token pairs of
    * `log(lambda * P(w2|w1) + (1-lambda) * P1(w2))` — the KenLM-style
    * perplexity quality gate of web-scale pipelines, one tier above
    * [[unigramLogProb]]. Model definition (pinned so the q67 oracle
    * replays it): P1 is the top-`vocab` unigram distribution with the
    * OOV floor `1/total` (exactly [[unigramLogProb]]'s); P(w2|w1) =
    * corpusCount(w1 w2) / corpusCount(w1), defined ONLY when both
    * tokens are in-vocab and the bigram occurs (else the unigram term
    * alone carries the score). Docs with fewer than 2 tokens have no
    * pairs and are absent from the output.
    *
    * Scale shape: pair extraction is a codegen'd zip of the token array
    * with its shift (no self-join); the bigram count aggregate is
    * map-side combinable and its join side has one row per (w1, w2) —
    * AQE-skew-splittable; the unigram vocabulary is driver-sized BY
    * DESIGN (V is a model hyperparameter) and broadcast. Restricting
    * bigrams to in-vocab pairs bounds the model table at V^2 worst case
    * independent of corpus size.
    */
  def bigramLogProb(df: DataFrame, textCol: String, idCol: String,
                    vocab: Int = 4096, lambda: Double = 0.7): DataFrame = {
    val toks = df.select(col(idCol),
        explode(split(TextStats.normalize(col(textCol)), " ")).as("_tok"))
      .filter(col("_tok") =!= "")
    val counts = toks.groupBy("_tok").agg(count(lit(1)).as("_c"))
      .localCheckpoint(false) // same lifecycle+laziness as unigramLogProb
    val total = counts.agg(coalesce(sum("_c"), lit(0L))).first().getLong(0)
    if (total == 0L)
      return df.select(col(idCol), lit(0.0).as("bigram_logprob"),
        lit(0L).as("n_pairs")).limit(0)
    val vocabDf = counts.orderBy(col("_c").desc, col("_tok")).limit(vocab)
      .select(col("_tok"), col("_c").as("_c1"),
        (col("_c").cast("double") / total).as("_p1"))
    // `pairs` feeds BOTH the bigram-count aggregate and the scoring
    // join, so each consumer re-derives it. Deliberately NOT
    // checkpointed: materializing it measured a wash at smoke scale
    // (checkpoint job + cache write ≈ the second derivation) and at
    // corpus scale would cache ~2x the text bytes to save one narrow
    // codegen scan.
    val pairs = df.select(col(idCol),
        Dedup.bindOnce(split(TextStats.normalize(col(textCol)), " "), tk =>
          when(size(tk) >= 2,
            arrays_zip(slice(tk, lit(1), size(tk) - 1),
              slice(tk, lit(2), size(tk) - 1)))
            .otherwise(array())).as("_z"))
      .select(col(idCol), explode(col("_z")).as("_pair"))
      .select(col(idCol), col("_pair.0").as("_w1"), col("_pair.1").as("_w2"))
    val bigrams = pairs
      .join(broadcast(vocabDf.select(col("_tok").as("_w1"))), Seq("_w1"))
      .join(broadcast(vocabDf.select(col("_tok").as("_w2"))), Seq("_w2"))
      .groupBy("_w1", "_w2").agg(count(lit(1)).as("_c2"))
    val w1Counts = vocabDf.select(col("_tok").as("_w1"), col("_c1"))
    val scored = pairs
      .join(bigrams.join(w1Counts, "_w1")
        .select(col("_w1"), col("_w2"),
          (col("_c2").cast("double") / col("_c1")).as("_p2")),
        Seq("_w1", "_w2"), "left")
      .join(broadcast(vocabDf.select(col("_tok").as("_w2"),
        col("_p1"))), Seq("_w2"), "left")
      .select(col(idCol),
        log(lit(lambda) * coalesce(col("_p2"), lit(0.0)) +
          lit(1.0 - lambda) * coalesce(col("_p1"), lit(1.0 / total)))
          .as("_lp"))
    scored.groupBy(idCol)
      .agg(avg("_lp").as("bigram_logprob"), count(lit(1)).as("n_pairs"))
  }

  /** BM25 (Okapi) document scoring for a bag-of-terms query — the
    * standard retrieval gate a curation pipeline uses to pull
    * topically-relevant training slices (Robertson & Zaragoza's
    * formulation):
    *
    *   idf(t)   = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)
    *   score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * len_d / avgLen))
    *
    * over normalized whitespace tokens. Only docs matching at least one
    * query term appear (score > 0).
    *
    * Scale shape: the corpus-length stats (N, avgLen) are one
    * map-side-combinable aggregate collapsed to a scalar; per-term
    * document frequencies aggregate to one row per query term
    * (broadcast); the token scan keeps only query-term hits
    * (`array_contains` against a literal array — a pushable codegen
    * filter), so the shuffled frame is |hits|, not |tokens|.
    */
  def bm25(df: DataFrame, textCol: String, idCol: String,
           queryTerms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val termArr = array(terms.map(lit): _*)
    // ONE tokenize pass (guide §1.2/§2.3): the old shape re-derived the
    // token array in three separate scans (corpus stats, hit extraction,
    // and the per-doc length rejoin — each re-running normalize+split
    // over the full text). This projects the narrow per-doc summary
    // (id, len, query-term hits) in a single scan and materializes it
    // (eager localCheckpoint, the [[Dedup.collapse]] lifecycle
    // discipline) for its three consumers. The checkpoint rows are
    // ~tens of bytes per doc (hits are query terms only), so at corpus
    // scale this trades a cheap cache for two full text scans.
    val base = df.select(col(idCol),
        Dedup.bindOnce(split(TextStats.normalize(col(textCol)), " "), tk =>
          struct(
            size(filter(tk, t => t =!= "")).as("len"),
            filter(tk, t => array_contains(termArr, t)).as("hits")))
          .as("_s"))
      .select(col(idCol), col("_s.len").as("_len"), col("_s.hits").as("_h"))
      .localCheckpoint(false) // lazy: the stats action materializes it
    val stats = base.agg(count(lit(1)).as("n"),
      avg("_len").as("avgLen")).first()
    val n = stats.getLong(0)
    val avgLen = stats.getDouble(1)
    val hits = base.select(col(idCol), explode(col("_h")).as("_term"))
      .groupBy(idCol, "_term").agg(count(lit(1)).as("_tf"))
    val dfT = hits.groupBy("_term").agg(count(lit(1)).as("_df"))
      .select(col("_term"),
        log((lit(n.toDouble) - col("_df") + 0.5) / (col("_df") + 0.5) + 1.0)
          .as("_idf"))
    hits
      .join(broadcast(dfT), "_term")
      .join(base.select(col(idCol), col("_len")), idCol)
      .select(col(idCol),
        (col("_idf") * col("_tf") * (k1 + 1) /
          (col("_tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("_len") / avgLen))).as("_s"))
      .groupBy(idCol)
      .agg(sum("_s").as("bm25"))
  }

  // ---------- quality bucketing / domain curation ----------

  /** CCNet-style quality bucketing (Wenzek et al., LREC 2020 —
    * PAPERS.md): rank the corpus by a language-model quality score and
    * cut it into k equal-count buckets, bucket 1 best — the
    * generalization of CCNet's head/middle/tail thirds. This exact-rank
    * form runs one global `ntile` window — a single-task sort, valid
    * over the NARROW (id, score) projection the caller passes (payload
    * columns rejoin on the id afterwards, the [[packSequences]]
    * discipline) — and is the oracled test-scale form. The form that
    * scales is [[qualityBucketsBy]], which ranks within each stratum.
    */
  def qualityBuckets(df: DataFrame, scoreCol: Column, idCol: String,
                     k: Int): DataFrame = {
    require(k >= 2, "need at least 2 buckets")
    df.withColumn("bucket",
      ntile(k).over(Window.orderBy(scoreCol.desc, col(idCol))))
  }

  /** Per-stratum quality bucketing — the form CCNet actually ships
    * (head/middle/tail are cut PER LANGUAGE, Wenzek et al. LREC 2020):
    * rank inside each stratum and cut into k equal-count buckets. This
    * is also the scale-correct window shape: `Window.partitionBy`
    * shuffles once on the stratum key and each stratum sorts
    * independently (external sort on spill) — no single-task global
    * window (the [[packSequencesBy]] discipline). Prefer this over
    * [[qualityBuckets]] whenever a stratum column exists.
    */
  def qualityBucketsBy(df: DataFrame, scoreCol: Column, stratumCol: String,
                       idCol: String, k: Int): DataFrame = {
    require(k >= 2, "need at least 2 buckets")
    df.withColumn("bucket", ntile(k).over(
      Window.partitionBy(col(stratumCol)).orderBy(scoreCol.desc, col(idCol))))
  }

  /** Domain-level curation — the per-domain gate of web-scale pipelines
    * (C4 / RefinedWeb domain rules, Gopher per-source filters;
    * PAPERS.md): judge each domain on AGGREGATED evidence (mean per-doc
    * quality and document support), then cut every document of a
    * failing domain. The verdict table is one row per domain —
    * broadcast-sized at any corpus scale — so the corpus is never
    * shuffled: one map-side-combinable aggregate over (domain, quality)
    * plus one broadcast anti-join. The mean is rounded (4 dp) BEFORE
    * the floor compare so the keep/cut verdict is bit-stable across
    * engines and partition orders (the [[TextStats.qualityScore]]
    * rounding discipline).
    */
  def dropLowQualityDomains(df: DataFrame, domainCol: String,
                            qualityCol: Column, minMeanQuality: Double,
                            minDocs: Long): DataFrame = {
    val bad = df.groupBy(col(domainCol))
      .agg(round(avg(qualityCol), 4).as("_mq"), count(lit(1)).as("_nd"))
      .filter(col("_mq") < minMeanQuality || col("_nd") < minDocs)
      .select(col(domainCol).as("_bad_domain"))
    // null-SAFE anti-join: the NULL-domain group gets a verdict like any
    // other (groupBy keeps it), and `<=>` makes the cut apply to it —
    // a plain equality anti-join would silently KEEP every null-domain
    // row, exactly the lowest-provenance slice of a web corpus
    df.join(broadcast(bad), col(domainCol) <=> col("_bad_domain"),
        "left_anti")
  }

  // ---------- PII scrubbing ----------

  /** Scrub patterns, applied IN ORDER (URLs first, so an address inside
    * a URL is masked as part of the URL). Restricted to the
    * RE2-compatible subset (no lookaround, ASCII word boundaries) so
    * the DuckDB oracle replays the exact same expressions; phone
    * matching is deliberately conservative (international `+` prefix
    * required) — a recall-first variant belongs to the caller, these
    * are the published C4-style scrub shapes.
    */
  private[operators] val piiPatterns: Seq[(String, String)] = Seq(
    "url" -> "https?://[^\\s]+",
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ip" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone" -> "\\+\\d[\\d() -]{6,}\\d")

  /** Replace each PII class with its `<CLASS>` token — a codegen'd
    * `regexp_replace` chain, one corpus scan, no shuffle (a pushable
    * projection: at 100 TB this runs map-side inside whatever job
    * already reads the text).
    */
  def scrubPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (name, p)) =>
      regexp_replace(acc, p, s"<${name.toUpperCase}>")
    }

  /** Per-class raw match counts on the UNSCRUBBED text (independent
    * counts: an email inside a URL counts under both classes even
    * though [[scrubPii]] masks it once, as part of the URL).
    */
  def piiCounts(c: Column): Column =
    struct(piiPatterns.map { case (name, p) =>
      regexp_count(c, lit(p)).as(s"n_${name}s")
    }: _*)

  // ---------- Gopher document-quality rules ----------

  /** The Gopher stopword list (Rae et al. 2021, §A1.1): a document must
    * contain at least two of these to pass.
    */
  private val gopherStopwords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher/MassiveText per-document quality rules (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1) as ONE codegen'd projection — word-count
    * bounds, mean word length, symbol-to-word ratio (`#` and ellipsis),
    * bullet-started / ellipsis-ended line fractions, alphabetic-word
    * fraction, the 2-of-8-stopwords gate, plus the duplicate-line and
    * duplicate-line-character fractions from the repetition table.
    * Emits every metric and the conjunct `gopher_pass`. Ratios are
    * deliberately NOT rounded: every one is a single IEEE division of
    * exact integers (bit-identical across engines), whereas a 6dp
    * round re-introduces the cross-engine half-boundary hazard for
    * denominators like 128 whose expansions terminate at the 7th
    * digit (Spark BigDecimal HALF_UP vs DuckDB multiply-round).
    *
    * Scale shape: a pushable map-side projection over the text column —
    * no shuffle, no UDF, the whole metric block stays inside
    * whole-stage codegen. Word/line arrays are materialized once as
    * attributes (the HOF-lambda re-evaluation trap: attributes are
    * cheap to reference, trees are not). Tokenization is
    * whitespace-split (the paper's definition); word matching for the
    * stopword gate is exact lowercased-token equality, a documented
    * simplification (no punctuation stripping).
    */
  def gopherFlags(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    val staged = df.select(col(idCol), t)
      .withColumn("_w", filter(split(t, "\\s+"), w => length(w) > 0))
      .withColumn("_lw", transform(col("_w"), w => lower(w)))
      .withColumn("_l", filter(split(t, "\n"), l => length(trim(l)) > 0))
      .withColumn("n_words", size(col("_w")))
      .withColumn("_n_lines", size(col("_l")))
      .withColumn("_word_chars",
        aggregate(col("_w"), lit(0L), (a, w) => a + length(w)))
      .withColumn("_line_chars",
        aggregate(col("_l"), lit(0L), (a, l) => a + length(l)))
      .withColumn("_dist_line_chars",
        aggregate(array_distinct(col("_l")), lit(0L), (a, l) => a + length(l)))
    def ratio(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den.cast("double"))
        .otherwise(lit(0.0))
    val metrics = staged
      .withColumn("mean_word_len", ratio(col("_word_chars"), col("n_words")))
      .withColumn("symbol_ratio", ratio(
        (length(t) - length(replace(t, lit("#"), lit("")))) +
          (length(t) - length(replace(t, lit("..."), lit("")))) / 3 +
          (length(t) - length(replace(t, lit("…"), lit("")))),
        col("n_words")))
      .withColumn("bullet_line_frac", ratio(
        size(filter(col("_l"),
          l => substring(trim(l), 1, 1).isin("•", "-"))),
        col("_n_lines")))
      .withColumn("ellipsis_line_frac", ratio(
        size(filter(col("_l"), l =>
          endswith(trim(l), lit("...")) || endswith(trim(l), lit("…")))),
        col("_n_lines")))
      .withColumn("alpha_word_frac", ratio(
        size(filter(col("_w"), w => w.rlike("[A-Za-zА-яёЁ]"))),
        col("n_words")))
      .withColumn("n_stop", size(filter(
        array(gopherStopwords.map(lit): _*),
        sw => array_contains(col("_lw"), sw))))
      .withColumn("dup_line_frac", ratio(
        col("_n_lines") - size(array_distinct(col("_l"))), col("_n_lines")))
      .withColumn("dup_line_char_frac", ratio(
        col("_line_chars") - col("_dist_line_chars"), col("_line_chars")))
    metrics
      .withColumn("gopher_pass",
        col("n_words").between(50, 100000) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("symbol_ratio") <= 0.1 &&
        col("bullet_line_frac") <= 0.9 &&
        col("ellipsis_line_frac") <= 0.3 &&
        col("alpha_word_frac") >= 0.8 &&
        col("n_stop") >= 2 &&
        col("dup_line_frac") <= 0.3)
      .drop("_w", "_lw", "_l", "_n_lines", "_word_chars", "_line_chars",
        "_dist_line_chars", textCol)
  }
}
