package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Components, Dedup, EventOps, Similarity, TextStats}
import graft.pipeline.{ExtractPipeline, Transcripts, TurnExtractor}

/** Harness contract: `entry`, `queries` and `oracleSql` (SURVEY.md §7.0).
  *
  * Every SQL-expressible operator registers a DuckDB oracle with column
  * names aliased identically on both sides; non-SQL-expressible operators
  * (the extraction kernel, MinHash/SimHash LSH, ANN) register rows-only
  * entries and are covered by the golden/property suites instead.
  */
object SparkEntry {

  /** Plain table read: `dir/name.parquet`, partitioned by the scan. */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Input spread for the kernel queries: a scan with fewer partitions
    * than the session's default parallelism (a small single-file table
    * scans as ONE split) is round-robined to that parallelism, so a
    * per-row kernel in the first stage (regex, tokenize, shingle, hash,
    * vector math) runs on every core instead of one. A scan already that
    * wide passes through with no exchange. The partition count is the
    * scan's physical plan's (planned, no job runs), so pass a scan, not
    * a frame with exchanges. Only the queries whose first stage runs
    * such a kernel before any exchange call this, and only where
    * dropping the spread measured slower (1.1-2x at sf0.1 on 4 cores);
    * every other query reads plainly and lets its first exchange do the
    * spreading. Read order is not a correctness dependency: the oracle
    * compare is green with and without it.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val scanned = df.queryExecution.executedPlan.execute().getNumPartitions
    if (scanned < p) df.repartition(p) else df
  }

  /** The batch decode queries' binaryFile reader: every file under
    * `dirs` whose name matches `glob`, as `(path, fileId, bytes)`.
    * Corpus files are named `doc_<n>.<ext>`, and `fileId` is `n`.
    */
  private def binaryFiles(s: SparkSession, glob: String,
      dirs: String*): Dataset[(String, Int, Array[Byte])] = {
    import s.implicits._
    s.read.format("binaryFile").option("pathGlobFilter", glob)
      .load(dirs: _*)
      .select("path", "content").as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        val base = path.substring(path.lastIndexOf('/') + 1)
        (path, base.stripPrefix("doc_").takeWhile(_.isDigit).toInt, bytes)
      }
  }

  /** One row per decoded paragraph (q58, q62):
    * `(file_id, doc_idx, para_idx, header, body)`.
    */
  private def paragraphRows(files: Dataset[(String, Int, Array[Byte])],
      decode: Array[Byte] => graft.core.MultiDoc): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.flatMap { case (_, fileId, bytes) =>
      decode(bytes).documents.iterator.zipWithIndex.flatMap { case (d, di) =>
        d.paragraphs.iterator.zipWithIndex.map { case (p, pi) =>
          (fileId, di, pi, p.header.text, p.body.text)
        }
      }
    }.toDF("file_id", "doc_idx", "para_idx", "header", "body")
  }

  /** One row per beneficiary of a decoded workbook, dated by its first
    * sheet's name (q60, q63): `(file_id, sheet_date, name, name_person)`.
    */
  private def beneficiaryRows(files: Dataset[(String, Int, Array[Byte])],
      decode: Array[Byte] => Seq[graft.core.SheetTable.Sheet]): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.flatMap { case (_, fileId, bytes) =>
      val sheets = decode(bytes)
      val date = graft.core.SheetTable
        .parseDateFromSheetName(sheets.head.name).map(_.toString).orNull
      graft.core.SheetTable.parseBeneficiaries(sheets)
        .map(b => (fileId, date, b.name, b.namePerson))
    }.toDF("file_id", "sheet_date", "name", "name_person")
  }

  /** One-scan self-duplication of a table head — the planted-dup fixture
    * shared by the dedup/curation queries. Rows with `idCol < n` emit
    * the original AND a mutated copy through a single explode; all other
    * rows pass through once. Row-set identical to the old
    * `df.unionByName(df.filter(idCol < n).select(mutated...))` form
    * (oracle hash match at all SFs), but the source is scanned ONCE
    * instead of twice (guide §2.4 — the union form paid a second scan
    * in every query using it).
    * `mut` overrides columns for the mutated copy; unlisted columns copy
    * through.
    */
  private def selfDup(df: DataFrame, idCol: String, n: Int,
      mut: Map[String, Column]): DataFrame = {
    val cols = df.columns.toSeq
    val orig = struct(cols.map(c => col(c).as(c)): _*)
    val mutated = struct(cols.map(c => mut.getOrElse(c, col(c)).as(c)): _*)
    df.select(explode(when(col(idCol) < n, array(orig, mutated))
        .otherwise(array(orig))).as("_r"))
      .select(cols.map(c => col("_r." + c).as(c)): _*)
  }

  /** One glob over sibling directories: `parent/{a,b}`. Basenames are
    * restricted to `[A-Za-z0-9_]+` so none can carry a glob
    * metacharacter (`,` `{` `}` `*` ...) that would change the file set.
    */
  private[graft] def braceGlob(dirs: Seq[String]): String = {
    val parents = dirs.map(d => d.substring(0, d.lastIndexOf('/')))
    require(parents.distinct.size == 1,
      "corpus dirs must share a parent for the glob source")
    val names = dirs.map(_.substring(parents.head.length + 1))
    names.foreach(n => require(n.matches("[A-Za-z0-9_]+"),
      s"corpus dir name '$n' is not a plain [A-Za-z0-9_]+ name"))
    parents.head + names.mkString("/{", ",", "}")
  }

  /** The decode-status corpora of q69 and q79 as `(kind, dir)`: the
    * four corrupt families and the clean docx corpus, under one parent.
    */
  private def statusCorpora(): Seq[(String, String)] = {
    import graft.sources.OoxmlCorpus._
    Seq("bad_pdf" -> ensureCorruptPdf(), "bad_cfb" -> ensureCorruptCfb(),
      "bad_zip" -> ensureCorruptZip(), "garbage" -> ensureGarbage(),
      "clean" -> ensureDocx())
  }

  /** [[graft.streaming.StreamExtract.decodeStream]]'s rows as q69/q79's
    * `(kind, file_id, format, status)`: `kind` is the corpus whose dir
    * basename equals the file's parent dir, `file_id` the `n` of its
    * `doc_<n>` name.
    */
  private def statusRows(decoded: DataFrame,
      corpora: Seq[(String, String)]): DataFrame = {
    val kinds = corpora.map { case (kind, d) =>
      d.substring(d.lastIndexOf('/') + 1) -> kind }.toMap
    val segs = split(col("path"), "/")
    decoded.select(
      element_at(typedLit(kinds), element_at(segs, -2)).as("kind"),
      regexp_extract(element_at(segs, -1), "doc_(\\d+)", 1).cast("int")
        .as("file_id"),
      col("format"), col("status"))
  }

  /** Recursive delete of a local directory (absent is fine). */
  private def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }

  /** Persisted deterministic transcript table for the q26/q27 oracles:
    * BOTH sides read the same parquet — Spark runs the extraction kernel
    * over it, DuckDB independently re-derives the extracted text from the
    * raw turn text (every generator turn class has a closed form, see the
    * q26 oracle SQL). Written once per conv count; content is a pure
    * function of (seed, nConvs) (Transcripts scaladoc), so re-writes are
    * byte-stable.
    */
  private def oracleTurnsPath(s: SparkSession, nConvs: Long): String = {
    val path = s"/tmp/graft_oracle_turns_$nConvs"
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS"))) {
      Transcripts.generate(s, nConvs).toDF()
        .select("conv_id", "turn_idx", "text")
        .repartition(8)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** The transcript table's conv count at `sfDir` (2000 at sf0.1, 300
    * below): the q26/q27 queries, their oracles ([[oracleSqlFor]]) and
    * the fixture warm-up all read the table of this size.
    */
  private def oracleConvs(sfDir: String): Long =
    if (sfDir.endsWith("0.1")) 2000L else 300L

  /** Flagship: per-turn extraction over the deterministic transcript
    * table, with stable conversation ordering. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val turns = Transcripts.generate(spark, 200)
    ExtractPipeline.withConvOrder(ExtractPipeline.extractNarrow(turns))
      .select(col("conv_id"), col("turn_idx"), col("turn_rank"),
        col("conv_char_offset"), col("nParas"), col("nBytes"),
        col("extractedText"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    ensureFixtures()
    queryMap
  }

  /** Fixture setup, run on every `queries` access (idempotent — every
    * ensure* is an existence check once its /tmp artifact exists):
    * corpus synthesis and the persisted oracle inputs are SETUP, not
    * query computation (VERDICT r05 "what's wrong" #4 — a cold q65 used
    * to time corpus synthesis, and a cold q26 timed writing the oracle
    * transcript table: 6.7 s / 10.4 s walls that measured /tmp writes,
    * not the operators). The driver's Bench resolves `queries` before
    * any per-query timer starts, so synthesis lands in setup wall.
    * Session-dependent fixtures are best-effort (skipped when no
    * session is active or the data dir is absent); every query still
    * self-ensures its inputs, so correctness never depends on this.
    */
  private def ensureFixtures(): Unit = {
    import graft.sources.OoxmlCorpus._
    ensureDocx(); ensureDoc62(); ensureXls(); ensureXlsx(); ensurePdf()
    ensureCorruptPdf(); ensureCorruptCfb(); ensureCorruptZip(); ensureGarbage()
    SparkSession.getActiveSession.foreach { s =>
      val sfDir =
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      try {
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(sfDir))) {
          oracleTurnsPath(s, oracleConvs(sfDir))
          ensureIvfLayout(s, sfDir)
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[graft] fixture warmup skipped: ${e.getMessage}")
      }
    }
  }

  /** The q61 IVF layout table (embeddings written partitioned by
    * list_id); content is a pure function of the embeddings table + the
    * deterministic pivot sample. Each table has one layout dir, named by
    * the md5 of its canonical path. The dir's `_SUCCESS` marker holds the
    * md5 of the table's file listing (name, size, mtime), so a table
    * rewritten in place rebuilds its layout over the stale one.
    */
  private def ensureIvfLayout(s: SparkSession, dir: String): String = {
    import scala.jdk.CollectionConverters._
    import org.apache.commons.codec.digest.DigestUtils.md5Hex
    val table = new java.io.File(dir, "embeddings.parquet").getCanonicalFile
    val walk = java.nio.file.Files.walk(table.toPath)
    val listing =
      try walk.iterator().asScala.map(_.toFile).filter(_.isFile)
        .map(f => s"$f\t${f.length}\t${f.lastModified}").toSeq.sorted
      finally walk.close()
    val digest = md5Hex(listing.mkString("\n"))
    val layout = s"/tmp/graft_ivf_layout_${md5Hex(table.getPath)}"
    val marker = java.nio.file.Paths.get(layout, "_SUCCESS")
    if (!java.nio.file.Files.exists(marker) ||
        java.nio.file.Files.readString(marker) != digest) {
      val e = t(s, dir, "embeddings")
      val pivots = Similarity.samplePivots(e, "embedding", "vec_id", 16)
      Similarity.ivfIndex(e, "embedding", pivots)
        .write.partitionBy("list_id").mode("overwrite").parquet(layout)
      java.nio.file.Files.writeString(marker, digest)
    }
    layout
  }

  private lazy val queryMap: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------- relational shell ----------
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    "q02_top_customers" -> ((s, dir) => {
      // the orders side takes a SHUFFLE_HASH hint: at any real scale
      // orders is not broadcastable next to lineitem, and locally the
      // hint replaces a serial 1.5M-row driver broadcast build with a
      // per-partition parallel hash build
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      li.join(o.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    }),

    "q03_region_revenue" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    "q04_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum("c_acctbal"), 2).as("sum_acctbal"))
    }),

    "q05_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val hi = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      val n = t(s, dir, "nation")
      c.join(hi, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_no_hi_order_customers"))
    }),

    "q06_window_top3" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"))
    }),

    "q07_rollup" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum("c_acctbal"), 2).as("sum_acctbal"))
    }),

    "q31_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
    }),

    "q32_grouping_sets" -> ((s, dir) => {
      // grouping sets via SQL surface (Dataset API exposes cube/rollup)
      t(s, dir, "customer").createOrReplaceTempView("gs_customer")
      s.sql("""SELECT c_mktsegment, c_nationkey,
                 count(*) AS n, round(sum(c_acctbal), 2) AS bal
               FROM gs_customer
               GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())""")
    }),

    "q33_union_stats" -> ((s, dir) => {
      // the hi/lo filters partition the non-NULL prices, so the
      // two-branch union IS one scan with a CASE tier (guide §2.4: the
      // union's second Exchange and second scan removed; same rows,
      // oracle-proven). A NULL price fails both branches' predicates, so
      // it is filtered out before the CASE.
      t(s, dir, "orders")
        .filter(col("o_totalprice").isNotNull)
        .select(col("o_custkey").as("custkey"),
          when(col("o_totalprice") > 200000, lit("hi")).otherwise(lit("lo"))
            .as("tier"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("custkey")).as("n_cust"))
    }),

    "q08_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
    }),

    "q09_setops" -> ((s, dir) => {
      // set-op semantics in ONE aggregation pass (guide §2.3/§2.4): the
      // old intersect/except form ran TWO actions over four distinct
      // shuffles; per-custkey status flags + one global conditional sum
      // compute both counts in a single job with map-side partial aggs.
      // Result proven identical to the intersect/except form (oracle
      // hash match at all three SFs).
      val o = t(s, dir, "orders")
      val st = o.filter(col("o_orderstatus").isin("F", "O"))
        .groupBy("o_custkey")
        .agg(max(col("o_orderstatus") === "F").as("_f"),
          max(col("o_orderstatus") === "O").as("_o"))
      val r = st.agg(
        coalesce(sum(when(col("_f") && col("_o"), 1L)), lit(0L)),
        coalesce(sum(when(col("_f") && !col("_o"), 1L)), lit(0L))).first()
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1))).toDF("n_both", "n_f_only")
    }),

    "q10_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      EventOps.asofJoin(clicks, purchases, "user_id", "ts", "value")
        .select(col("user_id"), col("event_id"),
          round(col("asof_value"), 4).as("asof_value"))
    }),

    "q11_sessionize" -> ((s, dir) => {
      val e = t(s, dir, "events")
      EventOps.sessionize(e, "user_id", "ts", 30)
        .groupBy(col("user_id"))
        .agg(max("session_idx").as("n_sessions"),
          count(lit(1)).as("n_events"))
    }),

    "q12_hourly" -> ((s, dir) => {
      EventOps.tumblingHourly(t(s, dir, "events"), "ts", "event_type")
        .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n_events"), col("sum_value"))
    }),

    // ---------- documents / text analysis ----------
    "q13_doc_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          round(avg(length(col("text"))), 4).as("avg_len"))
    }),

    "q14_exact_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(TextStats.normalize(col("text")))).as("n_distinct"))
        .withColumn("n_dup_docs", col("n_docs") - col("n_distinct"))
    }),

    "q15_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(sum(TextStats.tokenCount(col("text"))).as("sum_tokens"),
          max(TextStats.tokenCount(col("text"))).as("max_tokens"),
          count(lit(1)).as("n_docs"))
    }),

    "q16_quality" -> ((s, dir) => {
      val d = spread(t(s, dir, "documents"))
      d.groupBy(col("source"))
        .agg(
          round(avg(TextStats.alphaRatio(col("text"))), 4).as("avg_alpha"),
          round(avg(TextStats.digitRatio(col("text"))), 4).as("avg_digit"),
          round(avg(TextStats.avgTokenLen(col("text"))), 4).as("avg_tok_len"),
          count(lit(1)).as("n_docs"))
    }),

    "q17_langid_script" -> ((s, dir) => {
      spread(t(s, dir, "documents"))
        .groupBy(TextStats.langIdScript(col("text")).as("lang_guess"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    "q21_ngram_jaccard" -> ((s, dir) => {
      val d = spread(t(s, dir, "documents"))
      val sh = d.select(col("doc_id"),
        Dedup.wordShingles(col("text"), 3).as("sh"))
      val a = sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
      val b = sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
      a.join(b, col("b_id") === col("a_id") + 1)
        .select(col("a_id").as("doc_id"),
          round(Dedup.jaccard(col("a_sh"), col("b_sh")), 6).as("jac"))
    }),

    // ---------- similarity search ----------
    "q18_knn_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qvec = Similarity.queryVector(emb, "embedding", "vec_id", 0)
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") =!= 0), "embedding", "vec_id", qvec, 10)
    }),

    "q19_embedding_norms" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      emb.groupBy(col("label"))
        .agg(round(avg(Similarity.l2norm(
          col("embedding").cast("array<double>"))), 4).as("avg_norm"),
          count(lit(1)).as("n_vecs"))
    }),

    // ---------- LSH / kernel queries ----------
    // q20/q22/q24 are oracled against BRUTE-FORCE all-pairs ground truth
    // in DuckDB (quadratic is fine at oracle scale): the LSH pipelines
    // must reach full recall + exact precision to hash-match. q22's
    // oracle recomputes the 64-bit SimHash itself in SQL (FNV-1a + mix
    // via HUGEINT limb arithmetic). q23 (ANN) plants true neighbors so
    // probing recall is guaranteed and brute-force top-k is the oracle.
    "q20_minhash_neardups" -> ((s, dir) => {
      // self-dup the head of documents so near-dup pairs exist at any sf
      val d = t(s, dir, "documents").select("doc_id", "text")
      Dedup.minhashNearDups(
        selfDup(d, "doc_id", 50, Map(
          "doc_id" -> (col("doc_id") + 1000000),
          "text" -> concat(col("text"), lit(" extra tail tokens")))),
        "text", "doc_id", threshold = 0.5)
    }),

    "q22_simhash_neardups" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      Dedup.simhashNearDups(
        selfDup(d, "doc_id", 50, Map(
          "doc_id" -> (col("doc_id") + 1000000),
          "text" -> concat(col("text"), lit(" zz")))),
        "text", "doc_id")
    }),

    "q23_ann_lsh" -> ((s, dir) => {
      // ANN is for corpora that HAVE near neighbors: plant 15 copies of
      // the query vector (the rest of the synthetic corpus is near-random
      // noise, top cosine ~0.37). Identical vectors share every sign
      // pattern, so probing LSH recall on them is GUARANTEED — the true
      // top-10 is brute-force SQL-derivable and this becomes a two-sided
      // oracle of bucketing + probing + ranking.
      val emb = t(s, dir, "embeddings")
      val q0 = emb.filter(col("vec_id") === 0).select(col("embedding"))
      val qvec = Similarity.queryVector(emb, "embedding", "vec_id", 0)
      val copies = s.range(1, 16).crossJoin(q0)
        .select((col("id") + 2000000).as("vec_id"), col("embedding"))
      val corpus = emb.filter(col("vec_id") =!= 0)
        .select("vec_id", "embedding").unionByName(copies)
      Similarity.annTopK(corpus, "embedding", "vec_id", qvec, 10)
    }),

    "q24_cosine_neardups" -> ((s, dir) => {
      val emb = spread(t(s, dir, "embeddings"))
        .select("vec_id", "embedding", "label")
      Similarity.cosineNearDups(
        selfDup(emb, "vec_id", 20,
          Map("vec_id" -> (col("vec_id") + 1000000))),
        "embedding", "vec_id", threshold = 0.99)
    }),

    // q25/q30/q36/q37/q39 run typed Dataset.map lambdas DELIBERATELY:
    // they exercise the Scala dialect functions the reference defines
    // (LangId, DocDates, DocScalars), each a serde boundary that breaks
    // codegen for its stage. Users who want the codegen path can express
    // the same logic in SQL — the DuckDB oracles of these queries are
    // exactly that re-expression and translate to Spark SQL directly.
    "q25_langid_ngram" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) => (id, operators.LangId.detect(text)) }
        .toDF("doc_id", "lang_guess")
        .groupBy("lang_guess").agg(count(lit(1)).as("n_docs"))
    }),

    "q26_extract_transcripts" -> ((s, dir) => {
      // flagship extraction path; conv count scales with sf dir suffix.
      // Zero-shuffle narrow plan: extraction is per-turn stateless, so it
      // runs on source splits.
      // Reads the PERSISTED deterministic transcript table so the DuckDB
      // oracle re-derives the kernel's output from the same raw bytes
      // (VERDICT r02 #4).
      val turns = s.read.parquet(oracleTurnsPath(s, oracleConvs(dir)))
      ExtractPipeline.extractNarrow(turns)
        .select(col("conv_id"), col("turn_idx"), col("nParas"),
          col("nBytes"), col("error"), col("extractedText"))
    }),

    "q27_extract_conv_order" -> ((s, dir) => {
      val extracted = ExtractPipeline.extractNarrow(
        s.read.parquet(oracleTurnsPath(s, oracleConvs(dir))))
      ExtractPipeline.withConvOrder(extracted)
        .select(col("conv_id"), col("turn_idx"), col("turn_rank"),
          col("conv_char_offset"))
    }),

    "q34_token_count_native" -> ((s, dir) => {
      // the custom codegen Expression, cross-checked against DuckDB
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(sum(graft.functions.TokenCount.tokenCount(col("text")))
          .as("sum_tokens"),
          count(lit(1)).as("n_docs"))
    }),

    "q35_winnowing_neardups" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      // long k-grams: the synthetic docs share a small vocabulary, so
      // short grams collide across unrelated docs
      operators.Winnow.sharedFingerprintPairs(
        selfDup(d, "doc_id", 50, Map(
          "doc_id" -> (col("doc_id") + 1000000),
          "text" -> concat(lit("prefix words then "), col("text")))),
        "text", "doc_id", k = 24, w = 32, minShared = 8)
    }),

    "q29_multimodal_features" -> ((s, dir) => {
      val assets = operators.Multimodal.generate(s, 300)
      import s.implicits._
      operators.Multimodal.extractFeatures(assets, 8)
        .groupByKey(_.modality)
        .mapGroups { (m, it) =>
          var n = 0L; var bytes = 0L
          it.foreach { f => n += 1; bytes += f.nBytes }
          (m, n, bytes)
        }
        .toDF("modality", "n_assets", "sum_bytes")
    }),

    "q30_doc_dates" -> ((s, dir) => {
      // Russian date dialect (X1) over a date-bearing column derived
      // deterministically from documents.doc_id — the SAME derivation in
      // the DuckDB oracle, which re-parses it with the date regex and
      // month-containment mapping, so the dialect itself is oracled
      import s.implicits._
      val months = Seq("января", "марта", "мая", "07", "декабря")
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val day = (id % 28 + 1).toInt
          val text =
            s"Договор №$id от $day ${months((id % 5).toInt)} ${2000 + id % 25} года"
          (id, graft.core.DocDates.findDate(text).map(_.toString).orNull)
        }
        .toDF("doc_id", "doc_date")
        .filter(col("doc_date").isNotNull)
    }),

    // ---------- dead-path scalar dialects (X5/X7), oracled over
    // doc_id-derived text like q30 ----------
    "q36_doc_numbers" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val num = if (id % 10 == 0) "---" else s"$id-ФЗ"
          val text = s"Приказ № $num от марта"
          (id, graft.core.DocScalars.findDocumentNumber(text).orNull)
        }
        .toDF("doc_id", "doc_number")
        .filter(col("doc_number").isNotNull)
    }),

    "q37_name_short" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val cell =
            if (id % 3 == 0) s"Общество $id (сокращенное - ООО $id)"
            else s"Общество $id"
          // fallback semantics of ExcelParser.java:119-121: whole cell
          // as name when the pattern does not apply
          graft.core.DocScalars.splitNameShort(cell) match {
            case Some((n, sn)) => (id, n, sn)
            case None => (id, cell, "")
          }
        }
        .toDF("doc_id", "name", "short_name")
    }),

    "q38_quality_score" -> ((s, dir) => {
      spread(t(s, dir, "documents"))
        .groupBy(col("source"))
        .agg(round(avg(TextStats.qualityScore(col("text"))), 4)
          .as("avg_quality"),
          count(lit(1)).as("n_docs"))
    }),

    // X8 person-name extractor (ExcelParser.java:34,241-254) over
    // doc_id-derived text, same recipe as q36/q37; the DuckDB oracle
    // re-runs the regex (both engines are greedy on the \s* tails;
    // outputs are trimmed on both sides to normalize them)
    "q39_person_mentions" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val surnames =
            Seq("Иванов", "Петрова", "Сидоров", "Кузнецов-Смирнов", "Агеев")
          val sur = surnames((id % 5).toInt)
          val text = (id % 4) match {
            case 0 => s"решение принял И. И. $sur единолично"
            case 1 => s"$sur К. С. подписал приказ"
            case 2 => "нет персон в этой строке договора"
            case _ => s"присутствовали А. Б. $sur и Ветров-Водкин В. Г."
          }
          (id, graft.core.DocScalars.findPersons(text)
            .map(_.trim).mkString("|"))
        }
        .toDF("doc_id", "persons")
        .filter(col("persons") =!= "")
    }),

    // the extract_stats native expression over the documents table — the
    // serde-free metric path the bench drives, oracled via the q28
    // prose-invariant closed forms
    "q40_extract_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.ExtractStats.extractStats(col("text")).as("s"))
        .select(col("doc_id"), col("s.n_docs").as("n_docs"),
          col("s.n_paras").as("n_paras"), col("s.n_chars").as("n_chars"),
          col("s.n_bytes").as("n_bytes"))),

    // ---------- corpus curation (the training-pipeline stages beyond
    // dedup: decontamination, repetition gate, deterministic sampling) --
    "q41_decontaminate" -> ((s, dir) => {
      val corpus = spread(t(s, dir, "documents")).select("doc_id", "text")
      val benchmark = corpus.filter(col("doc_id") < 15).select("text")
      operators.Curation.decontaminate(corpus, benchmark, "text", "doc_id")
        .select("doc_id")
    }),

    "q42_repetition_ratio" -> ((s, dir) =>
      spread(t(s, dir, "documents")).select(col("doc_id"),
        round(operators.Curation.repetitionRatio(col("text")), 4)
          .as("rep_ratio"))),

    "q43_stratified_sample" -> ((s, dir) =>
      operators.Curation.stratifiedTake(
        t(s, dir, "documents").select("doc_id", "lang"),
        "lang", "doc_id", 10)),

    // the span surface of the kernel (kind, offset, length rows): prose
    // docs have the closed form "one header span covering the line"; a
    // NULL text extracts as "" and has no spans, as the oracle drops it
    "q44_extract_spans" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          TurnExtractor.extract(null, 0, text).spans
            .map(sp => (id, sp.kind, sp.offset, sp.length))
        }
        .toDF("doc_id", "kind", "offset", "length")
    }),

    "q45_dup_groups" -> ((s, dir) => {
      // transitive near-dup group labeling: alternating large-star/
      // small-star connected components over VERIFIED REPRESENTATIVE
      // pairs, exact-group members attached by one mapping join — the
      // stage that turns verified similarity into droppable GROUPS
      // (A~B, B~C => {A,B,C} even when (A,C) itself fell below
      // threshold) without the quadratic member-pair expansion
      // (equivalence with the pair-based construction pinned by
      // ComponentsSpec)
      val d = spread(t(s, dir, "documents")).select("doc_id", "text")
      Dedup.minhashNearDupGroups(
        selfDup(d, "doc_id", 50, Map(
          "doc_id" -> (col("doc_id") + 1000000),
          "text" -> concat(col("text"), lit(" extra tail tokens")))),
        "text", "doc_id", threshold = 0.5)
    }),

    "q48_drop_near_dups" -> ((s, dir) => {
      // the dedup pipeline END-TO-END: LSH candidates -> exact verify ->
      // rep-level transitive groups -> keep one doc per group (min id);
      // docs in no group pass through untouched
      val d = t(s, dir, "documents").select("doc_id", "text")
      val corpus = selfDup(d, "doc_id", 50, Map(
        "doc_id" -> (col("doc_id") + 1000000),
        "text" -> concat(col("text"), lit(" extra tail tokens"))))
      Components.dropByGroupLabels(corpus,
          Dedup.minhashNearDupGroups(corpus, "text", "doc_id",
            threshold = 0.5), "doc_id")
        .select("doc_id")
    }),

    "q54_exact_dup_groups" -> ((s, dir) => {
      // exact-dup group report over planted byte-identical copies
      val d = t(s, dir, "documents").select("doc_id", "text")
      Dedup.exactDupGroups(
          selfDup(d, "doc_id", 30,
            Map("doc_id" -> (col("doc_id") + 1000000))),
          "text", "doc_id")
        .select("keep_id", "n_dups")
    }),

    "q55_drop_exact_dups" -> ((s, dir) => {
      // keep one representative per normalized text (min id wins) —
      // aggregate-then-join, mega-group-safe (no fingerprint window)
      val d = spread(t(s, dir, "documents")).select("doc_id", "text")
      Dedup.dropExactDups(
          selfDup(d, "doc_id", 30,
            Map("doc_id" -> (col("doc_id") + 1000000))),
          "text", "doc_id")
        .select("doc_id")
    }),

    "q56_hash_sample" -> ((s, dir) =>
      // content-stable ~25% sample: md5 hex order under "40" — a
      // pushable, shuffle-free, engine-reproducible filter
      operators.Curation.hashSample(
        t(s, dir, "documents").select("doc_id", "lang"),
        col("doc_id"), "40")),

    "q57_pack_by_lang" -> ((s, dir) => {
      // the per-stratum scale form of q49: each language packs its own
      // windows; the rank runs over a narrow projection, payload rejoins
      val counted = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          graft.functions.TokenCount.tokenCount(col("text")).cast("long")
            .as("n_tokens"))
      operators.Curation.packSequencesBy(counted, col("n_tokens"),
        "lang", "doc_id", 512)
    }),

    "q53_quantize_int8" -> ((s, dir) => {
      // int8 scalar quantization audit: per vector, the scale, the max
      // reconstruction error (bounded by scale/2) and the cosine between
      // the original and its dequantized form
      val e = spread(t(s, dir, "embeddings"))
      val q = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        Similarity.quantizeInt8(col("embedding")).as("qz"))
      q.select(col("vec_id"),
        round(col("qz.scale"), 9).as("scale"),
        round(aggregate(
          zip_with(col("v"), Similarity.dequantize(col("qz")),
            (a, b) => abs(a - b)),
          lit(0.0), (acc, x) => greatest(acc, x)), 9).as("max_err"),
        round(Similarity.cosine(col("v"),
          Similarity.dequantize(col("qz"))), 6).as("cos_approx"))
    }),

    "q52_mixture_sample" -> ((s, dir) =>
      // training-mixture weights per source: en at 0.5, zh at 1.0, de
      // at 0.25, everything unlisted dropped — a pushable shuffle-free
      // filter, content-stable across runs/engines
      operators.Curation.mixtureSample(
          t(s, dir, "documents").select("doc_id", "lang"),
          col("doc_id"), "lang",
          Map("en" -> 0.5, "zh" -> 1.0, "de" -> 0.25))),

    "q51_repeated_windows" -> ((s, dir) => {
      // substring-level dup detection (Lee et al. ACL'22 reporting
      // half): positional 8-gram windows occurring in >1 document
      val d = spread(t(s, dir, "documents")).select("doc_id", "text")
      Dedup.crossDocRepeatedWindows(
          selfDup(d, "doc_id", 50, Map(
            "doc_id" -> (col("doc_id") + 1000000),
            "text" -> concat(lit("prefix words then "), col("text")))),
          "text", "doc_id", n = 8)
        .withColumnRenamed("id", "doc_id")
    }),

    "q49_pack_sequences" -> ((s, dir) => {
      // deterministic training-window packing by cumulative token count
      // (global-order oracled form; packSequencesBy is the scale form)
      val counted = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TokenCount.tokenCount(col("text")).cast("long")
            .as("n_tokens"))
      operators.Curation.packSequences(counted, col("n_tokens"),
        "doc_id", 512)
    }),

    "q50_unigram_logprob" -> ((s, dir) =>
      // MassiveText-style unigram quality stat: mean ln p(token) under
      // the corpus's own top-4096 unigram distribution, OOV floored
      operators.Curation.unigramLogProb(
          spread(t(s, dir, "documents")), "text", "doc_id", vocab = 4096)
        .select(col("doc_id"), round(col("logprob"), 6).as("logprob"),
          col("n_tokens"))),

    "q46_ivf_ann" -> ((s, dir) => {
      // IVF ANN: deterministic hash-sampled coarse quantizer (nlist=16),
      // probe the 4 inverted lists nearest the query (vec_id 0's
      // embedding), exact cosine re-rank inside — the partition-layout
      // scale path next to q23's LSH probe (see Similarity.ivfIndex)
      val e = t(s, dir, "embeddings")
      val qv = Similarity.queryVector(e, "embedding", "vec_id", 0)
      val pivots = Similarity.samplePivots(e, "embedding", "vec_id", 16)
      Similarity.ivfTopK(e, "embedding", "vec_id", qv, 10, pivots, nprobe = 4)
    }),

    "q47_pii_scrub" -> ((s, dir) => {
      // derived-text recipe (the q36/q37 pattern): plant deterministic
      // PII around the real document text, then scrub + count — one
      // map-side codegen'd scan, no shuffle
      val d = spread(t(s, dir, "documents")).select("doc_id", "text")
      val derived = concat(
        lit("reach user"), col("doc_id").cast("string"),
        lit("@example.com or visit https://docs.example.org/item/"),
        col("doc_id").cast("string"),
        lit(" from host 10.0."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 7) % 256).cast("string"),
        lit(" or call +1 415 55"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" today. "), col("text"))
      d.select(col("doc_id"),
          graft.operators.Curation.piiCounts(derived).as("c"),
          graft.operators.Curation.scrubPii(derived).as("scrubbed"))
        .select(col("doc_id"), col("c.*"), col("scrubbed"))
    }),

    "q28_extract_documents" -> ((s, dir) => {
      // kernel over the documents table: prose in, paragraphs out. A
      // NULL text extracts as "" and reads (0, 0); the oracle's CASE
      // answers (1, NULL) there, but no generated table has a NULL text
      import s.implicits._
      t(s, dir, "documents").select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) =>
          val e = TurnExtractor.extract(null, 0, text)
          (id, e.nParas, e.extractedText.length)
        }
        .toDF("doc_id", "n_paras", "extracted_len")
    }),

    "q58_docx_decode" -> ((s, dir) => {
      // REAL binary-format decode (S3, VERDICT r03 #3): byte-stable
      // synthesized DOCX containers read through binaryFile, decoded by
      // the JDK-only ZIP+StAX tokenizer (OoxmlDecode) and segmented by
      // the same state machine as every other source. One file = one
      // row into an embarrassingly-parallel flatMap — the 100 TB shape
      // is a binaryFile scan over an object store. The oracle states
      // the expected (header, body) segmentation in closed form over
      // range(nDocx) — content is a pure function of the doc index.
      paragraphRows(binaryFiles(s, "doc_*.docx",
        graft.sources.OoxmlCorpus.ensureDocx()),
        graft.sources.OoxmlDecode.decodeDocx)
    }),

    "q61_ivf_layout" -> ((s, dir) => {
      // the IVF LAYOUT end-to-end (VERDICT r03 #8): ivfIndex written
      // partitioned by list_id, probed through the partition-pruned
      // scan — the query THROWS unless the executed plan actually
      // carries a PartitionFilters predicate on list_id, so a pruning
      // regression turns this CORRECTNESS row red. Same result set as
      // q46 (layout changes the physical path, not the answer).
      val e = t(s, dir, "embeddings")
      val qv = Similarity.queryVector(e, "embedding", "vec_id", 0)
      val pivots = Similarity.samplePivots(e, "embedding", "vec_id", 16)
      val layout = ensureIvfLayout(s, dir)
      val result = Similarity.ivfTopKIndexed(s.read.parquet(layout),
        "embedding", "vec_id", qv, 10, pivots, nprobe = 4)
      val plan = result.queryExecution.executedPlan.toString
      require("PartitionFilters: \\[[^\\]]*list_id".r
          .findFirstIn(plan).isDefined,
        "IVF layout probe must partition-prune on list_id; plan:\n" + plan)
      result
    }),

    "q65_any_decode" -> ((s, dir) => {
      // the reference's one-call entry (S1, parse(filePath)) re-keyed
      // on CONTENT MAGIC over a MIXED corpus: one binaryFile scan over
      // all five formats, BinaryDispatch sniffing bytes (%PDF / CFB
      // stream names / zip entry names) and routing to the right real
      // decoder; per file a format-specific unit/char summary the
      // oracle states in closed form
      val dirs = Seq(
        graft.sources.OoxmlCorpus.ensureDocx(),
        graft.sources.OoxmlCorpus.ensureDoc62(),
        graft.sources.OoxmlCorpus.ensureXls(),
        graft.sources.OoxmlCorpus.ensureXlsx(),
        graft.sources.OoxmlCorpus.ensurePdf())
      import s.implicits._
      binaryFiles(s, "doc_*", dirs: _*)
        .flatMap { case (_, fileId, bytes) =>
          import graft.sources.BinaryDispatch._
          decode(bytes) match {
            case DecodedDoc(f, md) =>
              val paras = md.documents.flatMap(_.paragraphs)
              // text.length, not TextSeg.length: the seg length carries
              // the reference's offset-accounting quirks (list prefixes
              // uncounted), the oracle states plain string lengths
              Some((f, fileId, paras.size,
                paras.map(p => p.header.text.length + p.body.text.length).sum))
            case DecodedSheets(f, sheets) =>
              val bens = graft.core.SheetTable.parseBeneficiaries(sheets)
              Some((f, fileId, bens.size,
                bens.map(b => b.name.length + b.namePerson.length).sum))
            case DecodedPdf(f, sts) =>
              Some((f, fileId, sts.size, sts.map(_.name.length).sum))
            case _ => None
          }
        }
        .toDF("format", "file_id", "n_units", "chars")
    }),

    "q68_bm25_topk" -> ((s, dir) => {
      // Okapi BM25 top-20 for a bag-of-terms query — the retrieval gate
      // for pulling topically-relevant training slices; ranked on the
      // ROUNDED score (ties broken by doc_id) so the oracle's float
      // summation order cannot flip the k-boundary
      operators.Curation.bm25(
          t(s, dir, "documents").select("doc_id", "text"),
          "text", "doc_id", Seq("window", "merge", "vector"))
        .select(col("doc_id"), round(col("bm25"), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    }),

    "q69_decode_status" -> ((s, dir) => {
      // corrupt-input totality over the mixed binary corpus: at 10^8+
      // files some bytes ARE corrupt, and the scan's per-row contract is
      // decodeStream's — an (ok|error) row per file, never a dead job,
      // oversized files included. The corrupt corpora are STRUCTURALLY
      // failed (every id shares the same structural hole, pinned per-id
      // by DecodeFuzzSpec), which is what lets the oracle state every
      // row in closed form.
      val corpora = statusCorpora()
      statusRows(graft.streaming.StreamExtract.decodeStream(
        s.read.format("binaryFile").load(braceGlob(corpora.map(_._2)))),
        corpora)
    }),

    "q70_quality_buckets" -> ((s, dir) => {
      // CCNet-style perplexity bucketing over the q67 bigram LM score:
      // rank on the ROUNDED score (doc_id tiebreak) so both engines
      // sort identical keys, then cut into 10 equal-count buckets
      // (bucket 1 = most fluent)
      val scored = operators.Curation.bigramLogProb(
          t(s, dir, "documents").select("doc_id", "text"), "text", "doc_id")
        .select(col("doc_id"), round(col("bigram_logprob"), 6).as("s"))
      operators.Curation.qualityBuckets(scored, col("s"), "doc_id", 10)
        .select(col("doc_id"), col("s").as("bigram_logprob"), col("bucket"))
    }),

    "q74_ivf_sq8" -> ((s, dir) => {
      // IVF over int8-quantized vectors (the FAISS IVF-SQ8 memory
      // shape): the stored column is 4x narrower (int8 array + one
      // scale), pivot sampling, assignment and probe re-rank all run on
      // DEQUANTIZED vectors while the query stays full precision. At
      // 100 TB the embedding table's byte width IS the scan cost — this
      // is the compression+layout composition of q53 and q46, and its
      // oracle replays quantize -> dequantize -> IVF end-to-end
      val e = t(s, dir, "embeddings")
      val dq = e.select(col("vec_id"),
        Similarity.dequantize(Similarity.quantizeInt8(col("embedding")))
          .as("dq"))
      val qv = Similarity.queryVector(e, "embedding", "vec_id", 0)
      val pivots = Similarity.samplePivots(dq, "dq", "vec_id", 16)
      Similarity.ivfTopK(dq, "dq", "vec_id", qv, 10, pivots, nprobe = 4)
    }),

    "q73_corpus_report" -> ((s, dir) => {
      // the dataset-card report: ONE corpus pass aggregating the
      // card-level signals per (lang, source) — doc/token/char volume,
      // mean quality, exact-dup count (count - countDistinct over the
      // 128-bit fingerprint; dups planted q55-style so the column is
      // exercised). All map-side-combinable aggregates over a narrow
      // derived projection; at 100 TB this is the cheapest full-corpus
      // job there is (one scan, one shuffle of partial aggregates keyed
      // by ~|lang x source| groups)
      val d73 = spread(t(s, dir, "documents"))
        .select("doc_id", "lang", "source", "text")
      selfDup(d73, "doc_id", 30,
          Map("doc_id" -> (col("doc_id") + 1000000)))
        .select(col("lang"), col("source"),
          graft.functions.TokenCount.tokenCount(col("text")).cast("long")
            .as("_tok"),
          length(col("text")).cast("long").as("_len"),
          TextStats.qualityScore(col("text")).as("_q"),
          TextStats.fingerprint(col("text")).as("_fp"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("_tok").as("total_tokens"),
          sum("_len").as("total_chars"),
          // integer-exact mean, NO final rounding: per-doc q has exactly
          // 4 decimals, so sum the 1e4-scaled integers (order-free,
          // exact) and divide once — identical integer operands give a
          // bit-identical IEEE quotient in every engine. Both float
          // summation ORDER and round-at-the-half-boundary ALGORITHM
          // differ between engines (one group's exact .00005-boundary
          // mean flipped 0.8221/0.8222 under avg-then-round)
          (sum(round(col("_q") * 10000).cast("long")).cast("double")
            / (count(lit(1)) * 10000.0)).as("avg_quality"),
          (count(lit(1)) - countDistinct("_fp")).as("n_exact_dups"))
    }),

    "q72_curation_pipeline" -> ((s, dir) => {
      // the curation-side flagship (q48's analog): planted exact dups ->
      // dropExactDups (128-bit collapse, min-id keep) -> domain filter
      // (broadcast verdict anti-join) -> 75% content-stable hash sample
      // (pushable filter) -> global sequence packing. Every stage is an
      // already-oracled operator; the oracle replays the whole chain,
      // pinning the COMPOSITION (stage order matters: domain verdicts
      // aggregate over the deduped corpus)
      val docs = spread(t(s, dir, "documents"))
        .select("doc_id", "source", "text")
      val deduped = Dedup.dropExactDups(
        selfDup(docs, "doc_id", 30,
          Map("doc_id" -> (col("doc_id") + 1000000))),
        "text", "doc_id")
      val domained = operators.Curation.dropLowQualityDomains(deduped,
        "source", TextStats.qualityScore(col("text")), 0.8215, 10L)
      val sampled =
        operators.Curation.hashSample(domained, col("doc_id"), "c0")
      val counted = sampled.select(col("doc_id"), col("source"),
        graft.functions.TokenCount.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      operators.Curation.packSequences(counted, col("n_tokens"),
          "doc_id", 512)
        .select("doc_id", "source", "n_tokens", "pack_id", "pack_offset")
    }),

    "q79_stream_decode" -> ((s, dir) => {
      // q69 carried onto the STREAMING ingest path (VERDICT r04 #8):
      // the same corpora, decodeStream and statusRows, with a real
      // binaryFile readStream as the source and Trigger.AvailableNow ->
      // foreachBatch appending into a parquet table as the sink — the
      // landing-zone deployment shape. The stream must TERMINATE with
      // every corrupt file landed as an error ROW (never a dead
      // stream); the oracle is q69's closed form.
      val corpora = statusCorpora()
      // ONE glob source instead of five unioned readStreams: the same
      // file set, but one directory listing + one file-source log per
      // micro-batch instead of five (guide §6 — listing cost scales
      // with source count; the union form paid it 5x per trigger)
      val files = s.readStream.format("binaryFile")
        .schema(org.apache.spark.sql.execution.datasources.binaryfile
          .BinaryFileFormat.schema)
        .load(braceGlob(corpora.map(_._2)))
      // scratch output + checkpoint on /dev/shm (the same RAM-backed
      // scratch the bench's spark.local.dir uses): the micro-batch's
      // parquet append + commit-log fsyncs are the stream's I/O floor,
      // and /tmp may be disk-backed. Both dirs live only for this call:
      // the result (80 rows) is collected into a local frame, then they
      // are deleted.
      val shm = java.nio.file.Paths.get("/dev/shm")
      val scratch =
        if (java.nio.file.Files.isDirectory(shm)) shm
        else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      val out = java.nio.file.Files
        .createTempDirectory(scratch, "graft_q79_out").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory(scratch, "graft_q79_ckpt").toString
      try {
        val sink: (DataFrame, Long) => Unit =
          (batch, _) => batch.write.mode("append").parquet(out)
        val q = graft.streaming.StreamExtract.decodeStream(files)
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch(sink)
          .start()
        q.awaitTermination()
        val landed = statusRows(s.read.parquet(out), corpora)
        s.createDataFrame(java.util.Arrays.asList(landed.collect(): _*),
          landed.schema)
      } finally {
        deleteTree(out)
        deleteTree(ckpt)
      }
    }),

    "q78_gopher_rules" -> ((s, dir) => {
      // Gopher/MassiveText per-document quality rules (arXiv:2112.11446
      // §A1.1) in one codegen'd projection. Every 5th doc gets planted
      // line structure (duplicate bullet lines + an ellipsis line) so
      // the line-level metrics discriminate on this single-line corpus;
      // the word-count bound (>= 50) discriminates naturally. Ratios
      // are single int/int IEEE divisions — bit-identical in DuckDB,
      // no rounding (see gopherFlags scaladoc).
      val d = spread(t(s, dir, "documents")).select("doc_id", "text")
      val corpus = d.select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit("\n• bullet item one\n• bullet item one" +
            "\n- dash item\nclosing line...")))
          .otherwise(col("text")).as("text"))
      operators.Curation.gopherFlags(corpus, "text", "doc_id")
    }),

    "q77_semdedup" -> ((s, dir) => {
      // SemDeDup (arXiv:2303.09540): cluster-scoped semantic dedup —
      // the corpus-scale form of q24's near-dup question (pairwise work
      // bounded per IVF cluster instead of corpus-wide LSH banding).
      // Planted exact copies (+1e6 ids) must all drop: each has its
      // lower-id original as a cluster-mate at cosine 1 (an exact copy
      // ties every pivot distance, and the argmin tie-break is pivot
      // order on both engines). The oracle replays pivot selection,
      // argmin assignment and the drop rule in SQL, not a closed form.
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding", "label")
      val corpus = selfDup(emb, "vec_id", 30,
        Map("vec_id" -> (col("vec_id") + 1000000)))
      val pivots = operators.Similarity.samplePivots(
        corpus, "embedding", "vec_id", 16)
      operators.Similarity.semDedup(corpus, "embedding", "vec_id",
          pivots, tau = 0.99)
        .select("vec_id", "label")
    }),

    "q76_remove_contaminated_spans" -> ((s, dir) => {
      // surgical decontamination: docs 20-39 carry a planted benchmark
      // sentence; the operator cuts ONLY its windows (the q41 drop form
      // would delete the whole document). The planted 9-token sentence
      // yields windows at positions 0 and 1 -> covered positions 0..8 =
      // exactly the plant, so the rebuilt text is the original document
      // (normalized) — but the oracle replays the full algorithm rather
      // than assuming that closed form
      val d = spread(t(s, dir, "documents")).select("doc_id", "text")
      val sentence =
        "Shared eval question sentence for the span decontamination test. "
      val corpus = d.select(col("doc_id"),
        when(col("doc_id") >= 20 && col("doc_id") < 40,
          concat(lit(sentence), col("text")))
          .otherwise(col("text")).as("text"))
      val benchmark = s.range(1).select(lit(sentence).as("text"))
      operators.Curation.removeContaminatedSpans(
        corpus, benchmark, "text", "doc_id")
    }),

    "q75_buckets_by_lang" -> ((s, dir) => {
      // the per-language CCNet cut (the form CCNet actually ships):
      // bigram LM score ranked WITHIN each language, 5 buckets — the
      // scale-correct window shape (one shuffle on lang, no global
      // single-task sort)
      val docs = t(s, dir, "documents").select("doc_id", "lang")
      val scored = operators.Curation.bigramLogProb(
          t(s, dir, "documents").select("doc_id", "text"), "text", "doc_id")
        .select(col("doc_id"), round(col("bigram_logprob"), 6).as("s"))
        .join(docs, "doc_id")
      operators.Curation.qualityBucketsBy(scored, col("s"), "lang",
          "doc_id", 5)
        .select(col("doc_id"), col("lang"), col("s").as("bigram_logprob"),
          col("bucket"))
    }),

    "q71_domain_filter" -> ((s, dir) => {
      // domain-level curation: per-source mean quality + doc support
      // judged in one map-side-combinable aggregate; failing domains cut
      // wholesale via a broadcast anti-join (the corpus never shuffles)
      // the 0.8215 floor splits the synthetic sources ~8/12 at sf0.01 —
      // the verdict boundary is exercised, not vacuous (the rounded-mean
      // compare keeps it engine-stable, as q38's hash match proves)
      operators.Curation.dropLowQualityDomains(
          spread(t(s, dir, "documents")), "source",
          TextStats.qualityScore(col("text")), 0.8215, 10L)
        .select("doc_id", "source")
    }),

    "q67_bigram_logprob" -> ((s, dir) => {
      // interpolated bigram LM quality scoring (Jelinek-Mercer), the
      // tier above q50's unigram gate; score rounded so the oracle's
      // independent float-summation order is absorbed
      val scored = operators.Curation.bigramLogProb(
        t(s, dir, "documents").select("doc_id", "text"), "text", "doc_id")
      scored.select(col("doc_id"),
        round(col("bigram_logprob"), 6).as("bigram_logprob"),
        col("n_pairs"))
    }),

    "q66_media_decode" -> ((s, dir) => {
      // REAL media codecs (r04): PNG pixels via javax.imageio, WAV
      // PCM16 via the RIFF parser — synthesized assets whose decoded
      // statistics are closed-form (pixel/sample values are explicit
      // functions of (id, x, y) / (id, t), and PNG/PCM are lossless).
      // The decode runs in executors (range -> flatMap), one row per
      // asset: (modality, asset_id, d1..d5)
      import s.implicits._
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      s.range(30).flatMap { boxed =>
        val id: Long = boxed // range yields java.lang.Long; unbox once
        val (w, h, r, g, b) =
          operators.Multimodal.decodeImage(operators.Multimodal.pngBytes(id))
        val (rate, n, meanAbs) =
          operators.Multimodal.decodeWavPcm16(operators.Multimodal.wavBytes(id))
        Seq(
          ("image", id, w.toDouble, h.toDouble, r6(r), r6(g), r6(b)),
          ("audio", 1000L + id, rate.toDouble, n.toDouble, r6(meanAbs),
            0.0, 0.0))
      }.toDF("modality", "asset_id", "d1", "d2", "d3", "d4", "d5")
    }),

    "q64_pdf_decode" -> ((s, dir) => {
      // REAL PDF decode (S4 + P1): object scan -> page tree -> content
      // interpreter (text matrix + fill-path harvest) -> the geometry
      // kernel P2-P8 (grid selection, cell assignment, skip-row title
      // quirk, cross-page row stitch) -> stakeholders. Even-id files
      // are FlateDecode-compressed, odd uncompressed — same answer.
      import s.implicits._
      binaryFiles(s, "doc_*.pdf", graft.sources.OoxmlCorpus.ensurePdf())
        .flatMap { case (_, fileId, bytes) =>
          val (pages, w) = graft.sources.PdfDecode.pagesWithWidth(bytes)
          graft.core.PdfTable.parseStakeholderPages(pages, w)
            .zipWithIndex.map { case (st, si) =>
              (fileId, si, st.name,
                if (st.share == null) null else st.share.toString,
                st.reasons.map(_.text).mkString("|"),
                st.reasons.map(r => if (r.date == null) "" else r.date.toString)
                  .mkString("|"))
            }
        }
        .toDF("file_id", "s_idx", "name", "share", "reasons", "reason_dates")
    }),

    "q63_xls_decode" -> ((s, dir) => {
      // REAL BIFF8 (.xls) decode (E3 + the XLS half of S5): CFB ->
      // Workbook stream -> SST/BoundSheet8 -> per-sheet LabelSst cells
      // -> the same beneficiary projection as q60; oracle = q60's
      // closed form (same content, different binary container)
      beneficiaryRows(binaryFiles(s, "doc_*.xls",
        graft.sources.OoxmlCorpus.ensureXls()),
        graft.sources.XlsDecode.decodeXls)
    }),

    "q62_doc_decode" -> ((s, dir) => {
      // REAL MS-DOC binary decode (S2): CFB/OLE2 container -> FIB ->
      // piece table -> CHPX/PAPX FKPs -> DOC-dialect elements ->
      // the A1 segmentation fold, over binaryFile like q58. The oracle
      // states the expected (header, body) rows in closed form over
      // range(nDoc62) — including the DocumentParser.java:179
      // unconditional leading-space quirk.
      paragraphRows(binaryFiles(s, "doc_*.doc",
        graft.sources.OoxmlCorpus.ensureDoc62()),
        graft.sources.DocDecode.decodeDoc)
    }),

    "q59_remove_repeated_windows" -> ((s, dir) => {
      // ACL'22 substring-dedup REMOVAL (VERDICT r03 #4): plant one
      // boilerplate sentence across docs 0-19, then cut every cross-doc
      // duplicated 8-token window keeping the min-id occurrence; the
      // oracle replays the whole algorithm in DuckDB and byte-checks
      // text_clean (any incidental cross-doc 8-grams between the real
      // document texts are mirrored identically on both sides)
      val d = spread(t(s, dir, "documents")).select("doc_id", "text")
      val planted = d.select(col("doc_id"),
        when(col("doc_id") < 20,
          concat(lit("Shared boilerplate header sentence common to " +
            "many documents in this corpus. "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.removeRepeatedWindows(planted, "text", "doc_id", n = 8)
    }),

    "q60_xlsx_decode" -> ((s, dir) => {
      // REAL XLSX decode (S5 + E1/E2/X2): workbook -> sheets -> cell
      // model -> beneficiary projection + sheet-name date, per file
      beneficiaryRows(binaryFiles(s, "doc_*.xlsx",
        graft.sources.OoxmlCorpus.ensureXlsx()),
        graft.sources.OoxmlDecode.decodeXlsx)
    })
  )

  /** The q67 interpolated-bigram LM replayed in SQL, shared by the
    * q67 (per-doc score) and q70 (bucketed) oracles — the CTE chain ends
    * at `sc(id, lp)`: one row per adjacent token pair with its
    * interpolated log-probability.
    */
  private val bigramLmCte: String =
    """WITH d AS (
         SELECT doc_id AS id,
                string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
         FROM documents
       ), toksF AS (
         SELECT id, w FROM (SELECT id, unnest(tk) AS w FROM d)
         WHERE w <> ''
       ), tot AS (SELECT count(*)::DOUBLE AS c FROM toksF),
       uni AS (SELECT w, count(*) AS c FROM toksF GROUP BY w),
       voc AS (
         SELECT w, c, c / (SELECT c FROM tot) AS p1
         FROM uni ORDER BY c DESC, w LIMIT 4096
       ), pr AS (
         SELECT id, tk[pos] AS w1, tk[pos + 1] AS w2
         FROM (SELECT id, tk, unnest(range(1, len(tk))) AS pos FROM d)
       ), big AS (
         SELECT w1, w2, count(*) AS c2
         FROM pr JOIN voc v1 ON pr.w1 = v1.w JOIN voc v2 ON pr.w2 = v2.w
         GROUP BY w1, w2
       ), p2t AS (
         SELECT b.w1, b.w2, b.c2 / v.c::DOUBLE AS p2
         FROM big b JOIN voc v ON b.w1 = v.w
       ), sc AS (
         SELECT pr.id,
           ln(0.7::DOUBLE * coalesce(p2t.p2, 0.0) +
              (1.0::DOUBLE - 0.7::DOUBLE) *
                coalesce(v2.p1, 1.0 / (SELECT c FROM tot))) AS lp
         FROM pr
         LEFT JOIN p2t ON pr.w1 = p2t.w1 AND pr.w2 = p2t.w2
         LEFT JOIN voc v2 ON pr.w2 = v2.w
       )"""

  /** Shared q26/q27 derivation: DuckDB independently re-computes the
    * extraction kernel's output for every generator turn class from the
    * RAW turn text in the persisted transcript table (the same parquet
    * the Spark queries read — see oracleTurnsPath):
    *
    *   - HTML turns (fixed nav/h1/p/p/footer template): nav+footer are
    *     boilerplate (WSDM'10 container rule), content = h1 header + two
    *     p bodies joined with \n;
    *   - markup turns (^C header, prose, #N(1,0)/#N(1,1) list items,
    *     **bold**, prose): header + body with list prefixes "1. " and
    *     "1.1. "; the bold line starts a second paragraph iff it passes
    *     the >=5-alphanumerics gate (DocumentParser.java:909-912), and a
    *     second DOCUMENT iff it additionally matches ^приложение
    *     (isSubDocument, :680-693) — either way the concatenated text is
    *     identical, only nParas differs;
    *   - prose turns (single- or multi-line): one paragraph, extracted
    *     text = input verbatim (first line header, rest body, \n joins).
    *
    * The derivation is parameterized by the conv count (VERDICT r03
    * #5): the driver's correctness gate dumps oracles at its sfDir via
    * [[oracleSqlFor]], so the flagship oracle covers the sf0.1 table
    * (2000 convs) when verification runs there, not only the sf0.01
    * smoke count.
    */
  private def extractDerivation(nConvs: Long): String =
    s"""WITH raw AS (
         SELECT conv_id, turn_idx, text
         FROM '/tmp/graft_oracle_turns_$nConvs/*.parquet'
       ), cls AS (
         SELECT conv_id, turn_idx, text,
           string_split(text, chr(10)) AS ls,
           starts_with(text, '<html>') AS is_html,
           starts_with(text, '^C ') AS is_markup
         FROM raw
       ), der AS (
         SELECT conv_id, turn_idx,
           CASE
             WHEN is_html THEN
               regexp_extract(text, '<h1>([^<]*)</h1>', 1) || chr(10) ||
               array_to_string(
                 regexp_extract_all(text, '<p>([^<]*)</p>', 1), chr(10))
             WHEN is_markup THEN
               ls[1][4:] || chr(10) || ls[2] || chr(10) ||
               '1. ' || ls[3][9:] || chr(10) ||
               '1.1. ' || ls[4][9:] || chr(10) ||
               ls[5][3:length(ls[5])-2] || chr(10) || ls[6]
             ELSE text END AS extracted,
           CASE WHEN is_markup AND regexp_matches(
                  ls[5][3:length(ls[5])-2], '[A-Za-zА-Яа-я0-9]{5}')
                THEN 2 ELSE 1 END AS n_paras
         FROM cls
       )
    """

  /** Oracles at the correctness-gate scale (sf0.01). Part of the
    * harness contract with [[entry]] and [[queries]] (SURVEY.md §7.0):
    * an external correctness harness calls it, so no file in this
    * repository names it. Keep it.
    */
  def oracleSql: Map[String, String] = oracleSqlFor("/root/testdata/sf0.01")

  /** Oracles with the extraction derivation pinned to the conv count
    * the queries use at `sfDir` (Verify dumps this, so the q26/q27
    * oracles follow the verification scale — VERDICT r03 #5).
    */
  def oracleSqlFor(sfDir: String): Map[String, String] = {
    val extractDer = extractDerivation(oracleConvs(sfDir))
    val m = Map(
    "q26_extract_transcripts" ->
      (extractDer +
        """SELECT conv_id, turn_idx, n_paras AS "nParas",
             octet_length(encode(extracted)) AS "nBytes",
             CAST(NULL AS VARCHAR) AS error,
             extracted AS "extractedText"
           FROM der"""),

    "q27_extract_conv_order" ->
      (extractDer +
        """SELECT conv_id, turn_idx,
             row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS turn_rank,
             CAST(coalesce(sum(length(extracted) + 1) OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS conv_char_offset
           FROM der"""),

    // X8 — person mentions, the reference regex re-run by DuckDB's RE2
    // (both engines are greedy on the \s* tails; trimmed on both sides)
    "q39_person_mentions" ->
      """WITH t AS (
           SELECT doc_id,
             (['Иванов','Петрова','Сидоров','Кузнецов-Смирнов','Агеев'])
               [(doc_id % 5)::INT + 1] AS sur
           FROM documents
         ), txt AS (
           SELECT doc_id,
             CASE (doc_id % 4)
               WHEN 0 THEN 'решение принял И. И. ' || sur || ' единолично'
               WHEN 1 THEN sur || ' К. С. подписал приказ'
               WHEN 2 THEN 'нет персон в этой строке договора'
               ELSE 'присутствовали А. Б. ' || sur || ' и Ветров-Водкин В. Г.'
             END AS text
           FROM t
         )
         SELECT doc_id,
           array_to_string(list_transform(
             regexp_extract_all(text,
               '(([А-Я]\.\s*){2}[А-Я][а-я]+(-[А-Я][а-я]+)?)|([А-Я][а-я]+(-[А-Я][а-я]+)?\s*([А-Я]\.\s*){2})'),
             p -> trim(p)), '|') AS persons
         FROM txt
         WHERE doc_id % 4 <> 2""",

    // decontamination re-derived: same normalization, same 8-gram
    // shingles, same any-overlap rule (string equality — the md5 keys in
    // the operator are a pure transport encoding)
    "q41_decontaminate" ->
      """WITH d AS (
           SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
               ' ') AS tk
           FROM documents
         ), sh AS (
           SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(tk) - 7, 0) + 1),
               i -> array_to_string(tk[i:i+7], ' '))) AS shs
           FROM d
         ), b AS (
           SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id < 15
         ), contaminated AS (
           SELECT DISTINCT doc_id
           FROM (SELECT doc_id, unnest(shs) AS s FROM sh)
           WHERE s IN (SELECT s FROM b)
         )
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)""",

    "q42_repetition_ratio" ->
      """WITH d AS (
           SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
               ' ') AS tk
           FROM documents
         ), g AS (
           SELECT doc_id,
             list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
               i -> array_to_string(tk[i:i+1], ' ')) AS gs
           FROM d
         )
         SELECT doc_id,
           CASE WHEN len(gs) <= 0 THEN 0.0
                ELSE round(1.0 - len(list_distinct(gs))::DOUBLE / len(gs), 4)
           END AS rep_ratio
         FROM g""",

    "q43_stratified_sample" ->
      """WITH r AS (
           SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents
         )
         SELECT lang, doc_id FROM r WHERE rn <= 10""",

    // prose span invariant: one header span covering the whole line
    "q44_extract_spans" ->
      """SELECT doc_id, 'header' AS kind, 0 AS offset,
           length(text) AS length
         FROM documents WHERE trim(text) <> ''""",

    // transitive near-dup groups: the q20 brute-force pair ground truth,
    // closed transitively with a recursive CTE; group label = min id of
    // the connected component (the exact semantics of the alternating
    // large-star/small-star labeling)
    "q45_dup_groups" ->
      """WITH RECURSIVE corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text || ' extra tail tokens'
           FROM documents WHERE doc_id < 50
         ), sh AS (
           SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 1, 1)),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
           FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                 FROM corpus) t
           WHERE len(w) >= 3
         ), pairs AS (
           SELECT a.doc_id AS u, b.doc_id AS v
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
         ), edges AS (
           SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
         ), reach(id, r) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e.u, t.r FROM edges e JOIN reach t ON e.v = t.id
         )
         SELECT id, min(r) AS group_id FROM reach GROUP BY id""",

    // the q45 recursive closure, finished: drop every doc that is in a
    // transitive group but is not its group minimum
    "q48_drop_near_dups" ->
      """WITH RECURSIVE corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text || ' extra tail tokens'
           FROM documents WHERE doc_id < 50
         ), sh AS (
           SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 1, 1)),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
           FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                 FROM corpus) t
           WHERE len(w) >= 3
         ), pairs AS (
           SELECT a.doc_id AS u, b.doc_id AS v
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
         ), edges AS (
           SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
         ), reach(id, r) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e.u, t.r FROM edges e JOIN reach t ON e.v = t.id
         ), labels AS (
           SELECT id, min(r) AS group_id FROM reach GROUP BY id
         )
         SELECT doc_id FROM corpus
         WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> group_id)""",

    // groups keyed by the normalized text itself (the engine's 128-bit
    // md5 fingerprint is an internal key; the REPORT columns are
    // mirrorable)
    "q54_exact_dup_groups" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 30
         )
         SELECT min(doc_id) AS keep_id, count(*) AS n_dups
         FROM corpus
         GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
         HAVING count(*) > 1""",

    "q55_drop_exact_dups" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 30
         )
         SELECT doc_id FROM (
           SELECT doc_id, min(doc_id) OVER (
             PARTITION BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
           ) AS keep
           FROM corpus)
         WHERE doc_id = keep""",

    "q56_hash_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE substring(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 2)
           < '40'""",

    "q57_pack_by_lang" ->
      """SELECT doc_id, lang, n_tokens,
           CAST(floor(cum0 / 512) AS BIGINT) AS pack_id,
           CAST(cum0 % 512 AS BIGINT) AS pack_offset
         FROM (
           SELECT doc_id, lang, n_tokens,
             coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
           FROM (SELECT doc_id, lang,
                   CASE WHEN NOT regexp_matches(text, '\S') THEN 0
                     ELSE len(string_split_regex(
                       regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tokens
                 FROM documents))""",

    // identical arithmetic: scale = max|x|/127, q = clamped round(x/s),
    // reconstruction error and cosine against the dequantized vector
    "q53_quantize_int8" ->
      """WITH q AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]),
               x -> abs(x))) / 127.0 AS scale
           FROM embeddings
         ), z AS (
           SELECT vec_id, v, scale,
             CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
                  ELSE list_transform(v, x ->
                    greatest(-127.0, least(127.0, round(x / scale, 0))) * scale)
             END AS dq
           FROM q
         )
         SELECT vec_id, round(scale, 9) AS scale,
           round(list_max(list_transform(list_zip(v, dq),
             p -> abs(p[1] - p[2]))), 9) AS max_err,
           round(list_cosine_similarity(v, dq), 6) AS cos_approx
         FROM z""",

    // per-stratum md5 thresholds: floor(f * 16^8) as 8 lowercase hex
    // digits (0.5 -> 80000000, 0.25 -> 40000000; 1.0 keeps all)
    "q52_mixture_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE (lang = 'zh')
            OR (lang = 'en' AND
                substring(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 8)
                  < '80000000')
            OR (lang = 'de' AND
                substring(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 8)
                  < '40000000')""",

    // non-distinct positional 8-gram windows (the q20 tokenization),
    // md5-keyed; a window is cross-doc when its key lands in >= 2 docs
    "q51_repeated_windows" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, 'prefix words then ' || text
           FROM documents WHERE doc_id < 50
         ), w AS (
           SELECT doc_id, md5(g) AS wk FROM (
             SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(t) - 6, 1)),
               i -> array_to_string(t[i:i+7], ' '))) AS g
             FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
                   FROM corpus)
             WHERE len(t) >= 8)
         ), pdk AS (
           SELECT doc_id, wk, count(*) AS m FROM w GROUP BY doc_id, wk
         ), ck AS (
           SELECT wk FROM pdk GROUP BY wk HAVING count(*) >= 2
         )
         SELECT p.doc_id, CAST(sum(p.m) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN c.wk IS NOT NULL THEN p.m ELSE 0 END) AS BIGINT)
             AS n_dup_windows
         FROM pdk p LEFT JOIN ck c USING (wk)
         GROUP BY p.doc_id""",

    // the q34 whitespace token count feeding the same prefix-sum window
    // arithmetic
    "q49_pack_sequences" ->
      """SELECT doc_id, n_tokens,
           CAST(floor(cum0 / 512) AS BIGINT) AS pack_id,
           CAST(cum0 % 512 AS BIGINT) AS pack_offset
         FROM (
           SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
           FROM (SELECT doc_id,
                   CASE WHEN NOT regexp_matches(text, '\S') THEN 0
                     ELSE len(string_split_regex(
                       regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tokens
                 FROM documents))""",

    // the same normalization as the q20 shingle prep; corpus-derived
    // top-V unigram probabilities with the 1/total OOV floor
    "q50_unigram_logprob" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
           FROM documents
         ), t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
         counts AS (SELECT tok, count(*) AS c FROM t2 GROUP BY tok),
         total AS (SELECT sum(c) AS n FROM counts),
         vocab AS (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT 4096)
         SELECT doc_id,
           round(avg(ln(coalesce(v.c, 1)::DOUBLE / (SELECT n FROM total))), 6) AS logprob,
           count(*) AS n_tokens
         FROM t2 LEFT JOIN vocab v USING (tok)
         GROUP BY doc_id""",

    // IVF mirrored end-to-end in SQL: same hash-order pivot sample, same
    // argmin assignment (ties -> lowest pivot index), same 4-of-16 probe
    // selection, same re-rank — validates the whole operator, while the
    // recall/scan trade is covered by IvfSpec's clustered fixture
    "q46_ivf_ann" ->
      """WITH pivots AS (
           SELECT CAST(embedding AS DOUBLE[]) AS pv,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || 'graft-ivf'), vec_id) - 1 AS pidx
           FROM embeddings
           QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || 'graft-ivf'), vec_id) <= 16
         ), q AS (
           SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
         ), assign AS (
           SELECT vec_id, pidx FROM (
             SELECT e.vec_id, p.pidx,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY 1 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), p.pidx) AS rn
             FROM embeddings e CROSS JOIN pivots p) WHERE rn = 1
         ), probes AS (
           SELECT pidx FROM (
             SELECT p.pidx,
               row_number() OVER (ORDER BY 1 - list_cosine_similarity(q.qv, p.pv), p.pidx) AS rn
             FROM pivots p, q) WHERE rn <= 4
         )
         SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos
         FROM embeddings e
         JOIN assign a ON e.vec_id = a.vec_id
         JOIN probes pr ON a.pidx = pr.pidx, q
         ORDER BY cos DESC, e.vec_id
         LIMIT 10""",

    // the same RE2-subset patterns replayed verbatim: counts on the raw
    // derived text, the scrub chain in the same URL->EMAIL->IP->PHONE
    // order (sequential regexp_replace with the global flag)
    "q47_pii_scrub" ->
      """SELECT doc_id,
           len(regexp_extract_all(t, 'https?://[^\s]+')) AS n_urls,
           len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
           len(regexp_extract_all(t, '\+\d[\d() -]{6,}\d')) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
             'https?://[^\s]+', '<URL>', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\+\d[\d() -]{6,}\d', '<PHONE>', 'g') AS scrubbed
         FROM (SELECT doc_id,
           'reach user' || doc_id || '@example.com or visit https://docs.example.org/item/' || doc_id ||
           ' from host 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) ||
           ' or call +1 415 55' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
           ' today. ' || text AS t FROM documents)""",

    // extract_stats over single-line prose: the q28 closed forms, plus
    // byte length via utf8 encoding
    "q40_extract_stats" ->
      """SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0 ELSE 1 END AS n_docs,
           CASE WHEN trim(text) = '' THEN 0 ELSE 1 END AS n_paras,
           CASE WHEN trim(text) = '' THEN 0 ELSE length(text) END AS n_chars,
           CASE WHEN trim(text) = '' THEN 0
                ELSE octet_length(encode(text)) END AS n_bytes
         FROM documents""",

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",

    "q02_top_customers" ->
      """SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey, c_name
         ORDER BY revenue DESC, c_custkey
         LIMIT 10""",

    "q03_region_revenue" ->
      """SELECT r_name, n_name,
           round(sum(o_totalprice), 2) AS revenue,
           count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",

    "q04_semi_join" ->
      """SELECT c_mktsegment,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS sum_acctbal
         FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_mktsegment""",

    "q05_anti_join" ->
      """SELECT n_name, count(*) AS n_no_hi_order_customers
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_totalprice > 300000)
         GROUP BY n_name""",

    "q06_window_top3" ->
      """SELECT o_custkey, o_orderkey, rk FROM (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders) t
         WHERE rk <= 3""",

    "q07_rollup" ->
      """SELECT r_name, n_name,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS sum_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)""",

    "q31_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
         FROM orders
         GROUP BY CUBE (o_orderstatus, o_orderpriority)""",

    "q32_grouping_sets" ->
      """SELECT c_mktsegment, c_nationkey,
           count(*) AS n, round(sum(c_acctbal), 2) AS bal
         FROM customer
         GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())""",

    "q33_union_stats" ->
      """SELECT tier, count(*) AS n, count(DISTINCT custkey) AS n_cust
         FROM (
           SELECT o_custkey AS custkey, 'hi' AS tier FROM orders
           WHERE o_totalprice > 200000
           UNION ALL
           SELECT o_custkey, 'lo' FROM orders WHERE o_totalprice <= 200000) u
         GROUP BY tier""",

    "q08_distinct" ->
      """SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
         FROM lineitem
         GROUP BY l_returnflag""",

    "q09_setops" ->
      """SELECT
           (SELECT count(*) FROM (
             SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
             INTERSECT
             SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O') a)
           AS n_both,
           (SELECT count(*) FROM (
             SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
             EXCEPT
             SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O') b)
           AS n_f_only""",

    "q10_asof_join" ->
      """SELECT user_id, event_id, round(asof_value, 4) AS asof_value FROM (
           SELECT user_id, event_id, side,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side, v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
           FROM (
             SELECT user_id, event_id, ts, 1 AS side, CAST(NULL AS DOUBLE) AS v
             FROM events WHERE event_type = 'click'
             UNION ALL
             SELECT user_id, NULL, ts, 0 AS side, value
             FROM events WHERE event_type = 'purchase') u) w
         WHERE side = 1""",

    "q11_sessionize" ->
      """SELECT user_id,
           CAST(max(session_idx) AS BIGINT) AS n_sessions,
           count(*) AS n_events
         FROM (
           SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
           FROM (
             SELECT user_id, ts,
               CASE WHEN prev_ts IS NULL
                    OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END
               AS new_session
             FROM (
               SELECT user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
               FROM events) a) b) c
         GROUP BY user_id""",

    "q12_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
         FROM events
         GROUP BY 1, 2""",

    "q13_doc_stats" ->
      """SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           round(avg(length(text)), 4) AS avg_len
         FROM documents
         GROUP BY lang, source""",

    "q14_exact_dedup" ->
      """SELECT count(*) AS n_docs,
           count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
             AS n_distinct,
           count(*) - count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
             AS n_dup_docs
         FROM documents""",

    "q15_token_count" ->
      """SELECT lang,
           CAST(sum(tc) AS BIGINT) AS sum_tokens,
           max(tc) AS max_tokens,
           count(*) AS n_docs
         FROM (
           SELECT lang,
             CASE WHEN NOT regexp_matches(text, '\S') THEN 0
                  ELSE len(string_split_regex(
                    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS tc
           FROM documents) t
         GROUP BY lang""",

    "q16_quality" ->
      """SELECT source,
           round(avg(CASE WHEN length(text) = 0 THEN 0.0
             ELSE (length(text) - length(regexp_replace(text, '[а-яА-ЯёЁ]', '', 'g'))
                 + length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE
                / length(text) END), 4) AS avg_alpha,
           round(avg(CASE WHEN length(text) = 0 THEN 0.0
             ELSE (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                / length(text) END), 4) AS avg_digit,
           round(avg(CASE WHEN NOT regexp_matches(text, '\S') THEN 0.0
             ELSE length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
                / len(string_split_regex(
                    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END), 4)
             AS avg_tok_len,
           count(*) AS n_docs
         FROM documents
         GROUP BY source""",

    "q17_langid_script" ->
      """SELECT CASE
           WHEN length(text) - length(regexp_replace(text, '[а-яА-ЯёЁ]', '', 'g'))
              > length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))
           THEN 'ru'
           WHEN length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) > 0
           THEN 'en'
           ELSE 'unknown' END AS lang_guess,
           count(*) AS n_docs
         FROM documents
         GROUP BY 1""",

    "q21_ngram_jaccard" ->
      """WITH sh AS (
           SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 1, 1)),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
           FROM (
             SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
             FROM documents) t)
         SELECT a.doc_id AS doc_id,
           CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
             ELSE round(len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(list_concat(a.sh, b.sh))), 6) END AS jac
         FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""",

    "q18_knn_brute" ->
      """SELECT e.vec_id AS vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             CAST(q.embedding AS DOUBLE[])), 6) AS cos
         FROM embeddings e,
           (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         WHERE e.vec_id <> 0
         ORDER BY cos DESC, e.vec_id
         LIMIT 10""",

    "q34_token_count_native" ->
      """SELECT lang,
           CAST(sum(CASE WHEN NOT regexp_matches(text, '\S') THEN 0
             ELSE len(string_split_regex(
               regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END)
             AS BIGINT) AS sum_tokens,
           count(*) AS n_docs
         FROM documents
         GROUP BY lang""",

    "q19_embedding_norms" ->
      """SELECT label,
           round(avg(sqrt(list_sum(list_transform(
             CAST(embedding AS DOUBLE[]), x -> x * x)))), 4) AS avg_norm,
           count(*) AS n_vecs
         FROM embeddings
         GROUP BY label""",

    // ---- near-dup ground truths: the oracle brute-forces ALL pairs and
    // applies the exact metric, so the LSH pipeline must achieve full
    // recall + exact precision on the test corpus to hash-match ----
    "q20_minhash_neardups" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text || ' extra tail tokens'
           FROM documents WHERE doc_id < 50
         ), sh AS (
           SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 1, 1)),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
           FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                 FROM corpus) t
           WHERE len(w) >= 3
         )
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5""",

    "q24_cosine_neardups" ->
      """WITH corpus AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 20
         )
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])), 6) AS cos
         FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])), 6) >= 0.99""",

    // lang-id heuristic tier re-expressed in SQL: same stopword profiles,
    // same first-max-in-(de,en,es,fr)-order tie rule, same script prior
    "q25_langid_ngram" ->
      """WITH toks AS (
           SELECT doc_id,
             length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g')) AS cyr,
             length(text) AS n,
             list_filter(string_split_regex(lower(text), '[^\p{L}'']+'),
               t -> t <> '') AS tk
           FROM documents
         ), hits AS (
           SELECT doc_id, cyr, n, len(tk) AS ntok,
             len(list_filter(tk, t -> list_contains(['der','die','und','das','ist','nicht','mit','ein','eine','von','den','des','dem','sich','auch','auf'], t))) AS h_de,
             len(list_filter(tk, t -> list_contains(['the','and','of','to','in','is','that','it','for','was','with','are','this','have','not','you','his','from'], t))) AS h_en,
             len(list_filter(tk, t -> list_contains(['el','la','los','las','que','por','con','una','del','para','como','más','pero','sus'], t))) AS h_es,
             len(list_filter(tk, t -> list_contains(['le','la','les','des','est','dans','que','pour','une','qui','pas','sur','avec','par','mais'], t))) AS h_fr
           FROM toks
         )
         SELECT lang_guess, count(*) AS n_docs FROM (
           SELECT CASE
             WHEN n = 0 THEN 'unknown'
             WHEN cyr * 2 > n THEN 'ru'
             WHEN ntok = 0 THEN 'unknown'
             WHEN h_de = 0 AND h_en = 0 AND h_es = 0 AND h_fr = 0
               THEN (CASE WHEN cyr > 0 THEN 'ru' ELSE 'unknown' END)
             WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
             WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
             WHEN h_es >= h_fr THEN 'es'
             ELSE 'fr' END AS lang_guess
           FROM hits) g
         GROUP BY lang_guess""",

    // prose-path invariant of the extraction kernel: a single-line
    // non-blank plain text segments into exactly one paragraph whose
    // extracted text is the input verbatim
    "q28_extract_documents" ->
      """SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0 ELSE 1 END AS n_paras,
           CASE WHEN trim(text) = '' THEN 0 ELSE length(text) END
             AS extracted_len
         FROM documents""",

    // the distributed decode pipeline must neither drop nor duplicate
    // assets: per-modality counts and byte sums have closed forms
    "q29_multimodal_features" ->
      """SELECT CASE id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
             ELSE 'video' END AS modality,
           count(*) AS n_assets,
           CAST(sum(256 + (id * 2654435761) % 1024) AS BIGINT) AS sum_bytes
         FROM (SELECT range AS id FROM range(300))
         GROUP BY 1""",

    // SimHash ground truth computed INSIDE DuckDB: FNV-1a over UTF-16
    // units + the 64-bit avalanche mix re-expressed with 32-bit-limb
    // xor and mulmod-2^64 HUGEINT arithmetic, per-bit votes, then
    // brute-force all-pairs hamming <= 3. The operator's chunk-pair
    // recall guarantee means its output must equal this exactly.
    "q22_simhash_neardups" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text || ' zz' FROM documents WHERE doc_id < 50
         ), toks AS (
           SELECT doc_id, unnest(list_filter(
             string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
           FROM corpus
         ), fnv AS (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(14695981039346656037 AS HUGEINT),
                 list_transform(string_split(tok, ''), c -> CAST(ord(c) AS HUGEINT))),
               (acc, c) -> ((acc - acc % 2097152 +
                   CAST(xor(CAST(acc % 2097152 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
                 * 1099511628211) % 18446744073709551616
             ) AS h0
           FROM toks
         ), mix1 AS (
           SELECT doc_id,
             (CAST(xor(CAST(h0 // 4294967296 AS BIGINT),
                       CAST((h0 // 8589934592) // 4294967296 AS BIGINT)) AS HUGEINT)
                * 4294967296 +
              CAST(xor(CAST(h0 % 4294967296 AS BIGINT),
                       CAST((h0 // 8589934592) % 4294967296 AS BIGINT)) AS HUGEINT)) AS m1
           FROM fnv
         ), mix2 AS (
           SELECT doc_id,
             ( (m1 % 4294967296) * 18397679294719823053 % 18446744073709551616
               + (((m1 // 4294967296) * (18397679294719823053 % 4294967296)) % 4294967296) * 4294967296
             ) % 18446744073709551616 AS m2
           FROM mix1
         ), mixed AS (
           SELECT doc_id,
             (CAST(xor(CAST(m2 // 4294967296 AS BIGINT),
                       CAST((m2 // 8589934592) // 4294967296 AS BIGINT)) AS HUGEINT)
                * 4294967296 +
              CAST(xor(CAST(m2 % 4294967296 AS BIGINT),
                       CAST((m2 // 8589934592) % 4294967296 AS BIGINT)) AS HUGEINT)) AS h
           FROM mix2
         ), votes AS (
           SELECT doc_id, b.range AS b,
             sum(CASE WHEN (h // (CAST(1 AS HUGEINT) << CAST(b.range AS INT))) % 2 = 1
                 THEN 1 ELSE -1 END) AS v
           FROM mixed CROSS JOIN range(64) b
           GROUP BY doc_id, b.range
         ), sigs AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN
                 CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
                      ELSE CAST(1 AS HUGEINT) << CAST(b AS INT) END
               ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS sig
           FROM votes GROUP BY doc_id
         )
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sig, b.sig)) AS hamming
         FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 3""",

    // brute-force ground truth over the corpus with planted neighbors:
    // the probing-LSH top-k must equal it exactly (see the query comment)
    "q23_ann_lsh" ->
      """WITH corpus AS (
           SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
           UNION ALL
           SELECT 2000000 + range + 1 AS vec_id,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) AS embedding
           FROM range(15)
         )
         SELECT c.vec_id, round(list_cosine_similarity(
             CAST(c.embedding AS DOUBLE[]),
             CAST(q.embedding AS DOUBLE[])), 6) AS cos
         FROM corpus c, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         ORDER BY cos DESC, c.vec_id
         LIMIT 10""",

    // Winnowing (SIGMOD'03) ground truth computed INSIDE DuckDB: the
    // Rabin 24-gram hash + avalanche mix via HUGEINT limb arithmetic;
    // the positional emission rule collapses under set semantics (the
    // fingerprint SET equals the distinct window minima, SIGNED compare
    // like Scala Long), so selection is a window-frame min + DISTINCT;
    // then brute-force pairs sharing >= 8 fingerprints.
    "q35_winnowing_neardups" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, 'prefix words then ' || text
           FROM documents WHERE doc_id < 50
         ), chars AS (
           SELECT doc_id,
             list_transform(string_split(lower(text), ''),
               c -> CAST(ord(c) AS HUGEINT)) AS cs
           FROM corpus
         ), posh AS (
           SELECT doc_id, len(cs) - 23 AS nh, p AS pos,
             list_reduce(
               list_prepend(CAST(0 AS HUGEINT), cs[p : p + 23]),
               (acc, c) -> (acc * 1099511628211 + c) % 18446744073709551616) AS h0
           FROM chars, unnest(range(1, greatest(len(cs) - 23, 0) + 1)) AS t(p)
         ), mix2 AS (
           SELECT doc_id, nh, pos,
             ( (m1 % 4294967296) * 18397679294719823053 % 18446744073709551616
               + (((m1 // 4294967296) * (18397679294719823053 % 4294967296)) % 4294967296) * 4294967296
             ) % 18446744073709551616 AS m2
           FROM (
             SELECT doc_id, nh, pos,
               (CAST(xor(CAST(h0 // 4294967296 AS BIGINT),
                         CAST((h0 // 8589934592) // 4294967296 AS BIGINT)) AS HUGEINT)
                  * 4294967296 +
                CAST(xor(CAST(h0 % 4294967296 AS BIGINT),
                         CAST((h0 // 8589934592) % 4294967296 AS BIGINT)) AS HUGEINT)) AS m1
             FROM posh) q
         ), mixed AS (
           SELECT doc_id, nh, pos,
             CAST(hu - CASE WHEN hu >= 9223372036854775808
                 THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END
               AS BIGINT) AS h
           FROM (
             SELECT doc_id, nh, pos,
               (CAST(xor(CAST(m2 // 4294967296 AS BIGINT),
                         CAST((m2 // 8589934592) // 4294967296 AS BIGINT)) AS HUGEINT)
                  * 4294967296 +
                CAST(xor(CAST(m2 % 4294967296 AS BIGINT),
                         CAST((m2 // 8589934592) % 4294967296 AS BIGINT)) AS HUGEINT)) AS hu
             FROM mix2) r
         ), wmins AS (
           SELECT doc_id, pos, nh,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 31 FOLLOWING) AS wmin
           FROM mixed
         ), fps AS (
           SELECT DISTINCT doc_id, wmin AS fp
           FROM wmins WHERE pos <= greatest(nh - 31, 1)
         )
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2
         HAVING count(*) >= 8""",

    // X5 — document-number grammar + validation gate
    // (DocumentParser.java:31-32,319-323) re-evaluated by the oracle
    "q36_doc_numbers" ->
      """WITH t AS (
           SELECT doc_id,
             'Приказ № ' || (CASE WHEN doc_id % 10 = 0 THEN '---'
               ELSE doc_id || '-ФЗ' END) || ' от марта' AS text
           FROM documents
         ), m AS (
           SELECT doc_id,
             regexp_extract(text, '№[ \t]*(\S+)(\s+|$)', 1) AS num
           FROM t
         )
         SELECT doc_id, num AS doc_number FROM m
         WHERE num <> '' AND regexp_matches(num, '[A-Za-zА-Яа-я0-9]')""",

    // X7 — name/shortName split with the whole-cell fallback
    // (ExcelParser.java:32,114-121)
    "q37_name_short" ->
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
               THEN 'Общество ' || doc_id || ' (сокращенное - ООО ' || doc_id || ')'
               ELSE 'Общество ' || doc_id END AS cell
           FROM documents
         )
         SELECT doc_id,
           CASE WHEN regexp_matches(cell,
               '^(.*)\(\s*сокращенное\s*-?\s*(.*)\)$')
             THEN trim(regexp_extract(cell,
               '^(.*)\(\s*сокращенное\s*-?\s*(.*)\)$', 1))
             ELSE cell END AS name,
           CASE WHEN regexp_matches(cell,
               '^(.*)\(\s*сокращенное\s*-?\s*(.*)\)$')
             THEN trim(regexp_extract(cell,
               '^(.*)\(\s*сокращенное\s*-?\s*(.*)\)$', 2))
             ELSE '' END AS short_name
         FROM t""",

    "q38_quality_score" ->
      """SELECT source,
           round(avg(q), 4) AS avg_quality, count(*) AS n_docs
         FROM (
           SELECT source, round(greatest(0.0, least(1.0,
             alpha * lenOk * (1.0 - digit * 2))), 4) AS q
           FROM (
             SELECT source,
               CASE WHEN length(text) = 0 THEN 0.0
                 ELSE (length(text) - length(regexp_replace(text, '[а-яА-ЯёЁ]', '', 'g'))
                     + length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE
                    / length(text) END AS alpha,
               CASE WHEN length(text) = 0 THEN 0.0
                 ELSE (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                    / length(text) END AS digit,
               CASE WHEN (CASE WHEN NOT regexp_matches(text, '\S') THEN 0.0
                 ELSE length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
                    / len(string_split_regex(
                        regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END)
                 BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END AS lenOk
             FROM documents) f) g
         GROUP BY source""",

    // re-parses the derived date-bearing text with the reference's date
    // regex + month-containment mapping (DocumentParser.java:29-36,718-732)
    "q30_doc_dates" ->
      """WITH t AS (
           SELECT doc_id,
             lower('Договор №' || doc_id || ' от ' || (doc_id % 28 + 1) || ' ' ||
               (['января','марта','мая','07','декабря'])[(doc_id % 5)::INT + 1] || ' ' ||
               (2000 + doc_id % 25) || ' года') AS text
           FROM documents
         ), m AS (
           SELECT doc_id,
             regexp_extract(text,
               '([1-2][0-9]|3[01]|0?[1-9]).\s*(1[0-2]|0[1-9]|января|февраля|марта|апреля|мая|июня|июля|августа|сентября|октября|ноября|декабря).\s*([1-2]\d{3})',
               ['d', 'mo', 'y']) AS g
           FROM t
         )
         SELECT doc_id,
           strftime(make_date(g['y']::INT,
             CASE WHEN contains(g['mo'], 'янв') THEN 1
                  WHEN contains(g['mo'], 'фев') THEN 2
                  WHEN contains(g['mo'], 'мар') THEN 3
                  WHEN contains(g['mo'], 'апр') THEN 4
                  WHEN contains(g['mo'], 'ма') THEN 5
                  WHEN contains(g['mo'], 'июн') THEN 6
                  WHEN contains(g['mo'], 'июл') THEN 7
                  WHEN contains(g['mo'], 'авг') THEN 8
                  WHEN contains(g['mo'], 'сен') THEN 9
                  WHEN contains(g['mo'], 'окт') THEN 10
                  WHEN contains(g['mo'], 'ноя') THEN 11
                  WHEN contains(g['mo'], 'дек') THEN 12
                  ELSE g['mo']::INT END,
             g['d']::INT), '%Y-%m-%d') AS doc_date
         FROM m WHERE g['d'] <> ''""",

    // the q58 corpus is a pure function of the doc index (byte-stable
    // synthesized DOCX, OoxmlCorpus.docxBytes), so the oracle states
    // the expected segmentation in closed form: paragraph 0 = bold
    // title header + plain body; paragraph 1 = centered section header
    // + body joined (\n separator rule, Model.scala SegBuilder) from
    // the plain paragraph, the two "%1."-numbered terms (prefixes
    // "1. "/"2. "), and the 2-column non-bilingual table cells in row
    // order; the TOC field paragraph is dropped (F2)
    "q58_docx_decode" ->
      """SELECT i::INT AS file_id, 0::INT AS doc_idx, 0::INT AS para_idx,
                'AGREEMENT DOCUMENT ' || i AS header,
                'This agreement number ' || i ||
                  ' is made between the parties.' AS body
         FROM range(40) t(i)
         UNION ALL
         SELECT i::INT, 0::INT, 1::INT,
                'SECTION ' || i || ' OVERVIEW',
                -- 'signed at location' is the TextBox HOST paragraph;
                -- its box text (STAMP BOX ... Choice+Fallback twice in
                -- the XML) must never appear — embedded-object parity.
                -- 'approved clause N final' is the INLINE content
                -- control (included, POI paragraph text); the BLOCK
                -- w:sdt ('CONTROLLED COVER') must never appear
                -- (DocumentParser.java:407-409 drops CONTENTCONTROL)
                'Terms and conditions follow for document ' || i || '.' ||
                chr(10) || '1. first term of document ' || i ||
                chr(10) || '2. second term of document ' || i ||
                chr(10) || 'alpha ' || i || chr(10) || 'beta ' || i ||
                chr(10) || 'gamma ' || i || chr(10) || 'delta ' || i ||
                chr(10) || 'signed at location ' || i ||
                chr(10) || 'approved clause ' || i || ' final'
         FROM range(40) t(i)""",

    // full replay of the removal algorithm: normalize -> positional
    // 8-token windows -> cross-doc keys keyed by min-id keeper ->
    // dup-only covered positions -> anti-join tokens -> ordered
    // reassembly; text_clean is byte-compared
    "q59_remove_repeated_windows" ->
      """WITH corpus AS (
           SELECT doc_id AS id,
                  CASE WHEN doc_id < 20
                       THEN 'Shared boilerplate header sentence common to many documents in this corpus. ' || text
                       ELSE text END AS text
           FROM documents
         ),
         d AS (
           SELECT id,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
           FROM corpus
         ),
         wins AS (
           SELECT id, pos::INT AS pos,
                  array_to_string(tk[pos+1:pos+8], ' ') AS w
           FROM (SELECT id, tk,
                        unnest(range(greatest(len(tk) - 7, 0))) AS pos
                 FROM d)
         ),
         keys AS (
           SELECT w, min(id) AS keeper
           FROM (SELECT DISTINCT id, w FROM wins)
           GROUP BY w HAVING count(*) >= 2
         ),
         dropped AS (
           SELECT wins.id, wins.pos FROM wins
           JOIN keys USING (w) WHERE wins.id <> keys.keeper
         ),
         covered AS (
           SELECT DISTINCT id, pos + k AS cpos FROM dropped, range(8) r(k)
         ),
         toks AS (
           SELECT id, generate_subscripts(tk, 1) - 1 AS pos, unnest(tk) AS tok
           FROM d
         ),
         kept AS (
           SELECT t.id, t.pos, t.tok FROM toks t
           ANTI JOIN covered c ON t.id = c.id AND t.pos = c.cpos
         ),
         rebuilt AS (
           SELECT id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
           FROM kept GROUP BY id
         )
         SELECT c.id AS doc_id, coalesce(r.text_clean, '') AS text_clean
         FROM corpus c LEFT JOIN rebuilt r ON c.id = r.id""",

    // q69: every corrupt corpus fails STRUCTURALLY (the recipe, not the
    // id, decides the outcome — DecodeFuzzSpec pins each id), so the
    // whole decode-status table is a closed form over range(n)
    "q69_decode_status" ->
      """SELECT 'bad_pdf' AS kind, i::INT AS file_id,
                'pdf' AS format, 'error' AS status FROM range(10) t(i)
         UNION ALL SELECT 'bad_cfb', i::INT, 'cfb', 'error' FROM range(10) t(i)
         UNION ALL SELECT 'bad_zip', i::INT, 'zip', 'error' FROM range(10) t(i)
         UNION ALL SELECT 'garbage', i::INT, 'text', 'ok' FROM range(10) t(i)
         UNION ALL SELECT 'clean', i::INT, 'docx', 'ok' FROM range(40) t(i)""",

    // q68: the Okapi formula replayed term-for-term (idf with the +1
    // smoothing, tf saturation, length normalization); arithmetic
    // mirrors the Scala side's double ops
    "q68_bm25_topk" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
           FROM documents
         ), lens AS (
           SELECT doc_id, len(list_filter(tk, t -> t <> ''))::BIGINT AS l
           FROM d
         ), st AS (
           SELECT count(*)::DOUBLE AS n, avg(l)::DOUBLE AS avgLen FROM lens
         ), hits AS (
           SELECT doc_id, t, count(*) AS tf
           FROM (SELECT doc_id, unnest(tk) AS t FROM d)
           WHERE t IN ('window', 'merge', 'vector')
           GROUP BY doc_id, t
         ), idf AS (
           SELECT t,
             ln(((SELECT n FROM st) - count(*) + 0.5) / (count(*) + 0.5)
                + 1.0) AS idf
           FROM hits GROUP BY t
         ), score AS (
           SELECT h.doc_id,
             sum(idf.idf * h.tf * (1.2::DOUBLE + 1) /
                 (h.tf + 1.2::DOUBLE * ((1.0::DOUBLE - 0.75::DOUBLE) +
                   0.75::DOUBLE * lens.l / (SELECT avgLen FROM st)))) AS s
           FROM hits h
           JOIN idf ON h.t = idf.t
           JOIN lens ON h.doc_id = lens.doc_id
           GROUP BY h.doc_id
         )
         SELECT doc_id, round(s, 6) AS bm25
         FROM score
         ORDER BY round(s, 6) DESC, doc_id
         LIMIT 20""",

    // q67: the full interpolated-bigram model replayed — top-V unigram
    // distribution with OOV floor, in-vocab bigram conditionals, pair
    // scoring, per-doc mean (docs with < 2 tokens absent)
    "q67_bigram_logprob" ->
      s"""$bigramLmCte
         SELECT id AS doc_id, round(avg(lp), 6) AS bigram_logprob,
                count(*) AS n_pairs
         FROM sc GROUP BY id""",

    // q70: the same LM, bucketed — ntile over the rounded score with
    // the doc_id tiebreak (both engines rank identical keys)
    "q70_quality_buckets" ->
      s"""$bigramLmCte, per AS (
           SELECT id AS doc_id, round(avg(lp), 6) AS s
           FROM sc GROUP BY id
         )
         SELECT doc_id, s AS bigram_logprob,
                ntile(10) OVER (ORDER BY s DESC, doc_id) AS bucket
         FROM per""",

    // q74: quantize (the q53 arithmetic) -> dequantize -> the full q46
    // IVF replay over the dequantized vectors; q53's green oracle is
    // what proves the dq arrays are bit-identical across engines
    "q74_ivf_sq8" ->
      """WITH qz AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]),
               x -> abs(x))) / 127.0 AS scale
           FROM embeddings
         ), z AS (
           SELECT vec_id,
             CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
                  ELSE list_transform(v, x ->
                    greatest(-127.0, least(127.0, round(x / scale, 0))) * scale)
             END AS dq
           FROM qz
         ), pivots AS (
           SELECT dq AS pv,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || 'graft-ivf'), vec_id) - 1 AS pidx
           FROM z
           QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || 'graft-ivf'), vec_id) <= 16
         ), q AS (
           SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
         ), assign AS (
           SELECT vec_id, pidx FROM (
             SELECT e.vec_id, p.pidx,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY 1 - list_cosine_similarity(e.dq, p.pv), p.pidx) AS rn
             FROM z e CROSS JOIN pivots p) WHERE rn = 1
         ), probes AS (
           SELECT pidx FROM (
             SELECT p.pidx,
               row_number() OVER (ORDER BY 1 - list_cosine_similarity(q.qv, p.pv), p.pidx) AS rn
             FROM pivots p, q) WHERE rn <= 4
         )
         SELECT e.vec_id,
           round(list_cosine_similarity(e.dq, q.qv), 6) AS cos
         FROM z e
         JOIN assign a ON e.vec_id = a.vec_id
         JOIN probes pr ON a.pidx = pr.pidx, q
         ORDER BY cos DESC, e.vec_id
         LIMIT 10""",

    // q73: the dataset card re-derived — token count via the same
    // whitespace rule, quality via the q38 replay, dup count over the
    // normalized-text groups (md5 is collision-free at this scale, so
    // distinct fingerprints = distinct normalized texts)
    "q73_corpus_report" ->
      """WITH docs73 AS (
           SELECT lang, source, text FROM documents
           UNION ALL
           SELECT lang, source, text FROM documents WHERE doc_id < 30
         )
         SELECT lang, source, count(*) AS n_docs,
           sum(CASE WHEN NOT regexp_matches(text, '\S') THEN 0
             ELSE len(string_split_regex(
               regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END
             )::BIGINT AS total_tokens,
           sum(length(text))::BIGINT AS total_chars,
           sum(CAST(round(round(greatest(0.0, least(1.0,
               alpha * lenOk * (1.0 - digit * 2))), 4) * 10000) AS BIGINT)
             )::DOUBLE
             / (count(*) * 10000.0) AS avg_quality,
           count(*) - count(DISTINCT
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
             AS n_exact_dups
         FROM (
           SELECT lang, source, text,
             CASE WHEN length(text) = 0 THEN 0.0
               ELSE (length(text) - length(regexp_replace(text, '[а-яА-ЯёЁ]', '', 'g'))
                   + length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE
                  / length(text) END AS alpha,
             CASE WHEN length(text) = 0 THEN 0.0
               ELSE (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                  / length(text) END AS digit,
             CASE WHEN (CASE WHEN NOT regexp_matches(text, '\S') THEN 0.0
               ELSE length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
                  / len(string_split_regex(
                      regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END)
               BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END AS lenOk
           FROM docs73) f
         GROUP BY lang, source""",

    // q72: the whole curation chain replayed stage-for-stage — dedup
    // window keep, per-doc quality -> domain verdicts over the DEDUPED
    // corpus, md5-order sample, cumulative packing
    "q72_curation_pipeline" ->
      """WITH corpus AS (
           SELECT doc_id, source, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, source, text FROM documents
           WHERE doc_id < 30
         ), kept AS (
           SELECT doc_id, source, text FROM (
             SELECT doc_id, source, text, min(doc_id) OVER (
               PARTITION BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
             ) AS keep
             FROM corpus)
           WHERE doc_id = keep
         ), q AS (
           SELECT doc_id, source, text, round(greatest(0.0, least(1.0,
             alpha * lenOk * (1.0 - digit * 2))), 4) AS qv
           FROM (
             SELECT doc_id, source, text,
               CASE WHEN length(text) = 0 THEN 0.0
                 ELSE (length(text) - length(regexp_replace(text, '[а-яА-ЯёЁ]', '', 'g'))
                     + length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE
                    / length(text) END AS alpha,
               CASE WHEN length(text) = 0 THEN 0.0
                 ELSE (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                    / length(text) END AS digit,
               CASE WHEN (CASE WHEN NOT regexp_matches(text, '\S') THEN 0.0
                 ELSE length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
                    / len(string_split_regex(
                        regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END)
                 BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END AS lenOk
             FROM kept) f
         ), bad AS (
           SELECT source FROM q GROUP BY source
           HAVING round(avg(qv), 4) < 0.8215 OR count(*) < 10
         ), samp AS (
           SELECT doc_id, source, text FROM q
           WHERE NOT EXISTS (SELECT 1 FROM bad b
               WHERE q.source IS NOT DISTINCT FROM b.source)
             AND substring(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 2)
                 < 'c0'
         ), counted AS (
           SELECT doc_id, source,
             CASE WHEN NOT regexp_matches(text, '\S') THEN 0
               ELSE len(string_split_regex(
                 regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END
               AS n_tokens
           FROM samp
         )
         SELECT doc_id, source, n_tokens,
           CAST(floor(cum0 / 512) AS BIGINT) AS pack_id,
           CAST(cum0 % 512 AS BIGINT) AS pack_offset
         FROM (
           SELECT doc_id, source, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
           FROM counted)""",

    // q79: the q69 closed form verbatim — the STREAMING path must land
    // exactly the rows the batch scan lands (same corpora, same
    // structural failures; decodeStream adds nothing and loses nothing)
    "q79_stream_decode" ->
      """SELECT 'bad_pdf' AS kind, i::INT AS file_id,
                'pdf' AS format, 'error' AS status FROM range(10) t(i)
         UNION ALL SELECT 'bad_cfb', i::INT, 'cfb', 'error' FROM range(10) t(i)
         UNION ALL SELECT 'bad_zip', i::INT, 'zip', 'error' FROM range(10) t(i)
         UNION ALL SELECT 'garbage', i::INT, 'text', 'ok' FROM range(10) t(i)
         UNION ALL SELECT 'clean', i::INT, 'docx', 'ok' FROM range(40) t(i)""",

    // q78: the Gopher rules replayed metric-for-metric; every ratio is
    // one int/int division (bit-identical doubles, no rounding), the
    // pass flag the same conjunction over them
    "q78_gopher_rules" ->
      """WITH corpus AS (
           SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || chr(10) ||
               '• bullet item one' || chr(10) || '• bullet item one' ||
               chr(10) || '- dash item' || chr(10) || 'closing line...'
             ELSE text END AS text
           FROM documents
         ), staged AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'),
               w -> length(w) > 0) AS w,
             list_filter(string_split(text, chr(10)),
               l -> length(trim(l)) > 0) AS l
           FROM corpus
         ), m AS (
           SELECT doc_id, text, w, l,
             len(w) AS n_words, len(l) AS n_lines,
             coalesce(list_aggregate(list_transform(w, x -> length(x)),
               'sum'), 0) AS word_chars,
             coalesce(list_aggregate(list_transform(l, x -> length(x)),
               'sum'), 0) AS line_chars,
             coalesce(list_aggregate(list_transform(list_distinct(l),
               x -> length(x)), 'sum'), 0) AS dist_line_chars,
             len(list_filter(l, x -> substr(trim(x), 1, 1) = '•'
               OR substr(trim(x), 1, 1) = '-')) AS bullet_lines,
             len(list_filter(l, x -> ends_with(trim(x), '...')
               OR ends_with(trim(x), '…'))) AS ellipsis_lines,
             len(list_filter(w,
               x -> regexp_matches(x, '[A-Za-zА-яёЁ]'))) AS alpha_words,
             len(list_filter(['the','be','to','of','and','that','have','with'],
               sw -> list_contains(list_transform(w, x -> lower(x)), sw)))
               AS n_stop,
             (length(text) - length(replace(text, '#', ''))) +
               (length(text) - length(replace(text, '...', ''))) / 3 +
               (length(text) - length(replace(text, '…', ''))) AS symbols
           FROM staged
         ), r AS (
           SELECT doc_id,
             n_words::INT AS n_words,
             CASE WHEN n_words > 0 THEN word_chars / n_words
               ELSE 0.0 END AS mean_word_len,
             CASE WHEN n_words > 0 THEN symbols / n_words
               ELSE 0.0 END AS symbol_ratio,
             CASE WHEN n_lines > 0 THEN bullet_lines / n_lines
               ELSE 0.0 END AS bullet_line_frac,
             CASE WHEN n_lines > 0 THEN ellipsis_lines / n_lines
               ELSE 0.0 END AS ellipsis_line_frac,
             CASE WHEN n_words > 0 THEN alpha_words / n_words
               ELSE 0.0 END AS alpha_word_frac,
             n_stop::INT AS n_stop,
             CASE WHEN n_lines > 0
               THEN (n_lines - len(list_distinct(l))) / n_lines
               ELSE 0.0 END AS dup_line_frac,
             CASE WHEN line_chars > 0
               THEN (line_chars - dist_line_chars) / line_chars
               ELSE 0.0 END AS dup_line_char_frac
           FROM m
         )
         SELECT *,
           (n_words BETWEEN 50 AND 100000 AND
            mean_word_len BETWEEN 3.0 AND 10.0 AND
            symbol_ratio <= 0.1 AND
            bullet_line_frac <= 0.9 AND
            ellipsis_line_frac <= 0.3 AND
            alpha_word_frac >= 0.8 AND
            n_stop >= 2 AND
            dup_line_frac <= 0.3) AS gopher_pass
         FROM r""",

    // q77: SemDeDup replayed end-to-end — hash-order pivot selection
    // (the q46 form over the planted corpus), argmin assignment with
    // the pivot-order tie-break, then the cluster-scoped drop rule
    // (lower-id cluster-mate at 6dp-rounded cosine >= tau)
    "q77_semdedup" ->
      """WITH corpus AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
           FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]), label
           FROM embeddings WHERE vec_id < 30
         ), pivots AS (
           SELECT v AS pv,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || 'graft-ivf'), vec_id) - 1 AS pidx
           FROM corpus
           QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || 'graft-ivf'), vec_id) <= 16
         ), assign AS (
           SELECT vec_id, pidx FROM (
             SELECT c.vec_id, p.pidx,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY 1 - list_cosine_similarity(c.v, p.pv), p.pidx) AS rn
             FROM corpus c CROSS JOIN pivots p) WHERE rn = 1
         ), drops AS (
           SELECT DISTINCT b.vec_id
           FROM assign a
           JOIN assign b ON a.pidx = b.pidx AND a.vec_id < b.vec_id
           JOIN corpus ca ON ca.vec_id = a.vec_id
           JOIN corpus cb ON cb.vec_id = b.vec_id
           WHERE round(list_cosine_similarity(ca.v, cb.v), 6) >= 0.99
         )
         SELECT c.vec_id, c.label FROM corpus c
         WHERE c.vec_id NOT IN (SELECT vec_id FROM drops)""",

    // q76: benchmark windows -> covered positions -> token anti-join ->
    // rebuild (contaminated docs only; clean docs pass through
    // normalized)
    "q76_remove_contaminated_spans" ->
      """WITH corpus AS (
           SELECT doc_id AS id,
             CASE WHEN doc_id >= 20 AND doc_id < 40
               THEN 'Shared eval question sentence for the span decontamination test. ' || text
               ELSE text END AS text
           FROM documents
         ), d AS (
           SELECT id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
           FROM corpus
         ), bd AS (
           SELECT string_split(trim(regexp_replace(lower(
             'Shared eval question sentence for the span decontamination test. '),
             '\s+', ' ', 'g')), ' ') AS tk
         ), bkeys AS (
           SELECT DISTINCT array_to_string(tk[pos+1:pos+8], ' ') AS w
           FROM (SELECT tk, unnest(range(greatest(len(tk) - 7, 0))) AS pos
                 FROM bd)
         ), wins AS (
           SELECT id, pos::INT AS pos,
             array_to_string(tk[pos+1:pos+8], ' ') AS w
           FROM (SELECT id, tk,
                   unnest(range(greatest(len(tk) - 7, 0))) AS pos
                 FROM d)
         ), covered AS (
           SELECT DISTINCT id, pos + k AS cpos
           FROM (SELECT wins.id, wins.pos FROM wins
                 JOIN bkeys USING (w)), range(8) r(k)
         ), cids AS (
           SELECT DISTINCT id FROM covered
         ), toks AS (
           SELECT d.id, generate_subscripts(tk, 1) - 1 AS pos,
                  unnest(tk) AS tok
           FROM d SEMI JOIN cids ON d.id = cids.id
         ), kept AS (
           SELECT t.id, t.pos, t.tok FROM toks t
           ANTI JOIN covered c ON t.id = c.id AND t.pos = c.cpos
         ), rebuilt AS (
           SELECT id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
           FROM kept GROUP BY id
         )
         SELECT c.id AS doc_id,
           CASE WHEN c.id IN (SELECT id FROM cids)
                THEN coalesce(r.text_clean, '')
                ELSE trim(regexp_replace(lower(c.text), '\s+', ' ', 'g'))
           END AS text_clean
         FROM corpus c LEFT JOIN rebuilt r ON c.id = r.id""",

    // q75: the q70 LM bucketing cut per language (ntile inside each
    // lang partition, same rounded-score + doc_id sort keys)
    "q75_buckets_by_lang" ->
      s"""$bigramLmCte, per AS (
           SELECT id AS doc_id, round(avg(lp), 6) AS s
           FROM sc GROUP BY id
         ), wl AS (
           SELECT p.doc_id, d2.lang, p.s
           FROM per p JOIN documents d2 ON p.doc_id = d2.doc_id
         )
         SELECT doc_id, lang, s AS bigram_logprob,
                ntile(5) OVER (PARTITION BY lang ORDER BY s DESC, doc_id)
                  AS bucket
         FROM wl""",

    // q71: the q38 per-doc quality replayed, aggregated per source;
    // verdicts on the ROUNDED mean (bit-stable across engines)
    "q71_domain_filter" ->
      """WITH q AS (
           SELECT doc_id, source, round(greatest(0.0, least(1.0,
             alpha * lenOk * (1.0 - digit * 2))), 4) AS qv
           FROM (
             SELECT doc_id, source,
               CASE WHEN length(text) = 0 THEN 0.0
                 ELSE (length(text) - length(regexp_replace(text, '[а-яА-ЯёЁ]', '', 'g'))
                     + length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE
                    / length(text) END AS alpha,
               CASE WHEN length(text) = 0 THEN 0.0
                 ELSE (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                    / length(text) END AS digit,
               CASE WHEN (CASE WHEN NOT regexp_matches(text, '\S') THEN 0.0
                 ELSE length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
                    / len(string_split_regex(
                        regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END)
                 BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END AS lenOk
             FROM documents) f
         ), bad AS (
           SELECT source FROM q GROUP BY source
           HAVING round(avg(qv), 4) < 0.8215 OR count(*) < 10
         )
         SELECT doc_id, source FROM q
         WHERE NOT EXISTS (SELECT 1 FROM bad b
           WHERE q.source IS NOT DISTINCT FROM b.source)""",

    // q66: the decoded pixel/sample statistics re-derived from the
    // closed-form content formulas (PNG and PCM are lossless, so the
    // decoder must recover the exact values)
    "q66_media_decode" ->
      """WITH px AS (
           SELECT i, x, y
           FROM range(30) t(i), range(8) a(x), range(8) b(y)
         ), img AS (
           SELECT 'image' AS modality, i::BIGINT AS asset_id,
             8.0 AS d1, 8.0 AS d2,
             round(avg(((i*17 + x*3 + y*5) % 256) / 255.0), 6) AS d3,
             round(avg(((i*29 + x*7 + y*11) % 256) / 255.0), 6) AS d4,
             round(avg(((i*43 + x*13 + y*17) % 256) / 255.0), 6) AS d5
           FROM px GROUP BY i
         ), smp AS (
           SELECT i, unnest(range(800 + (i % 5) * 160)) AS t
           FROM range(30) t0(i)
         ), aud AS (
           SELECT 'audio' AS modality, (1000 + i)::BIGINT AS asset_id,
             16000.0 AS d1, (800 + (i % 5) * 160)::DOUBLE AS d2,
             round(avg(abs((i*31 + t*7) % 2003 - 1001)) / 32768.0, 6) AS d3,
             0.0 AS d4, 0.0 AS d5
           FROM smp GROUP BY i
         )
         SELECT * FROM img UNION ALL SELECT * FROM aud""",

    // q65: the mixed-corpus dispatch — every format's unit/char summary
    // derived from the same closed-form content the per-format oracles
    // state (paragraph texts for doc/docx, beneficiary fields for
    // xls/xlsx, stakeholder names for pdf)
    "q65_any_decode" ->
      """SELECT 'docx' AS format, i::INT AS file_id, 2::INT AS n_units,
           (length('AGREEMENT DOCUMENT ' || i)
            + length('This agreement number ' || i ||
                ' is made between the parties.')
            + length('SECTION ' || i || ' OVERVIEW')
            + length('Terms and conditions follow for document ' || i ||
                '.' || chr(10) || '1. first term of document ' || i ||
                chr(10) || '2. second term of document ' || i ||
                chr(10) || 'alpha ' || i || chr(10) || 'beta ' || i ||
                chr(10) || 'gamma ' || i || chr(10) || 'delta ' || i ||
                chr(10) || 'signed at location ' || i ||
                chr(10) || 'approved clause ' || i || ' final'))::INT
             AS chars
         FROM range(40) t(i)
         UNION ALL
         SELECT 'doc', i::INT, 4::INT,
           (length(' AGREEMENT ' || i || ' TITLE')
            + length(' agreement body text number ' || i || ' lorem')
            + length(' Section ' || i || ' details')
            + length(' closing details for document ' || i)
            + length(' indented note ' || i)
            + length(' final remark ' || i || chr(10) ||
                '2. первый пункт ' || i || chr(10) ||
                '3. второй пункт ' || i || chr(10) ||
                '3.1. подпункт ' || i || chr(10) ||
                '• маркер ' || i || chr(10) ||
                ' wide indent note ' || i || chr(10) ||
                ' продавец ' || i || chr(10) ||
                ' покупатель ' || i || chr(10) ||
                ' адрес ' || i || chr(10) ||
                ' город ' || i || chr(10) ||
                ' регион ' || i)
            + length(' APPENDIX ' || i || ' TERMS')
            + length(' итог ' || i || chr(10) || ' сумма ' || i))::INT
         FROM range(20) t(i)
         UNION ALL
         SELECT 'xlsx', w::INT, 2::INT,
           (length('ООО Фирма ' || w || '-1') + length('Иванов И.' || w)
            + length('АО Завод ' || w || '-2') + length('Петров П.' || w))::INT
         FROM range(10) t(w)
         UNION ALL
         SELECT 'xls', w::INT, 2::INT,
           (length('ООО Фирма ' || w || '-1') + length('Иванов И.' || w)
            + length('АО Завод ' || w || '-2') + length('Петров П.' || w))::INT
         FROM range(10) t(w)
         UNION ALL
         SELECT 'pdf', w::INT, 9::INT,
           (length('ООО Компания ' || w || ' 0')
            + length('ООО Компания ' || w || ' 1')
            + length('ООО Компания ' || w || ' 2')
            + length('ООО Гамма ' || w)
            + length('АО Дельта ' || w || ' 3')
            + length('АО Дельта ' || w || ' 4')
            + length('АО Дельта ' || w || ' 5')
            + length('АО Дельта ' || w || ' 6')
            + length('ПАО Омега ' || w))::INT
         FROM range(13) t(w)""",

    // q64: real PDFs; the 9 stakeholders per filing are closed-form —
    // 3 data rows, the cross-page-stitched one, 4 single-reason rows,
    // and the end-of-pages held-row flush (shares kept as the exact
    // BigDecimal strings the share parser produces)
    "q64_pdf_decode" ->
      """WITH f AS (SELECT i::INT AS file_id FROM range(13) t(i))
         SELECT file_id, r::INT AS s_idx,
                'ООО Компания ' || file_id || ' ' || r AS name,
                '25.' || r AS share,
                'создание общества |приобретение акций' AS reasons,
                '2020-02-01|2021-04-03' AS reason_dates
         FROM f, range(3) g(r)
         UNION ALL
         SELECT file_id, 3::INT, 'ООО Гамма ' || file_id, '10',
                'создание |продажа акций', '2020-02-01|2021-04-03' FROM f
         UNION ALL
         SELECT file_id, (4 + r)::INT,
                'АО Дельта ' || file_id || ' ' || (3 + r),
                (3 + r) || '.5', 'владение долей', '2021-06-05'
         FROM f, range(4) g(r)
         UNION ALL
         SELECT file_id, 8::INT, 'ПАО Омега ' || file_id, '100',
                'реорганизация', '2019-12-31' FROM f""",

    // q62: real Word97 binaries; every DOC-dialect paragraph carries
    // the :179 unconditional leading space. The r05 list tier is stated
    // literally: the level-0 items read "2."/"3." (the reference's
    // root-seeding off-by-one, DocumentParser.java:145-166), the
    // level-1 item "3.1.", the bullet "•", and the final indented note
    // stays in the body because the REAL page width (sprmSXaPage 20000)
    // puts 4000 twips at 0.20 — a SEP decode regression would flip it
    // to a header row and fail this oracle. The table tier is stated
    // literally too: the five multi-cell-row cell paragraphs land in
    // para 2's body (per-row CanNot demotion), the single-cell bold
    // row is para 3's header, and the trailing 2-cell row its body —
    // decoding the 0x07 marks as plain paragraph breaks would promote
    // cells to headers and fail this oracle.
    "q62_doc_decode" ->
      """SELECT i::INT AS file_id, 0::INT AS doc_idx, 0::INT AS para_idx,
                ' AGREEMENT ' || i || ' TITLE' AS header,
                ' agreement body text number ' || i || ' lorem' AS body
         FROM range(20) t(i)
         UNION ALL
         SELECT i::INT, 0::INT, 1::INT,
                ' Section ' || i || ' details',
                ' closing details for document ' || i
         FROM range(20) t(i)
         UNION ALL
         SELECT i::INT, 0::INT, 2::INT,
                ' indented note ' || i,
                ' final remark ' || i || chr(10) ||
                '2. первый пункт ' || i || chr(10) ||
                '3. второй пункт ' || i || chr(10) ||
                '3.1. подпункт ' || i || chr(10) ||
                '• маркер ' || i || chr(10) ||
                ' wide indent note ' || i || chr(10) ||
                ' продавец ' || i || chr(10) ||
                ' покупатель ' || i || chr(10) ||
                ' адрес ' || i || chr(10) ||
                ' город ' || i || chr(10) ||
                ' регион ' || i
         FROM range(20) t(i)
         UNION ALL
         SELECT i::INT, 0::INT, 3::INT,
                ' APPENDIX ' || i || ' TERMS',
                ' итог ' || i || chr(10) || ' сумма ' || i
         FROM range(20) t(i)""",

    // q60: one dated sheet per workbook, title row discovers the two
    // columns (E1), two data rows project to beneficiaries (E2), the
    // sheet name carries the date (X2)
    "q60_xlsx_decode" ->
      """SELECT w::INT AS file_id,
                ((2020 + w) || '-03-15') AS sheet_date,
                'ООО Фирма ' || w || '-1' AS name,
                'Иванов И.' || w AS name_person
         FROM range(10) t(w)
         UNION ALL
         SELECT w::INT, ((2020 + w) || '-03-15'),
                'АО Завод ' || w || '-2', 'Петров П.' || w
         FROM range(10) t(w)"""
    )
    // q61 probes the list_id-partitioned layout: the physical path
    // differs (partition-pruned scan), the answer is exactly q46's.
    // q63 decodes the q60 content shape from BIFF8 binaries: same
    // expected rows, different container format.
    m + ("q61_ivf_layout" -> m("q46_ivf_ann")) +
      ("q63_xls_decode" -> m("q60_xlsx_decode"))
  }
}
