package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("gopherFlags: the §A1.1 metrics on a hand-built document") {
    // 4 lines: 2 duplicates, one bullet, one ellipsis ending
    val text = "the words have and that with more body here\n" +
      "• item line\n• item line\nclosing thought..."
    val out = Curation.gopherFlags(docs(1L -> text), "text", "doc_id")
      .collect().head
    def d(n: String): Double = out.getAs[Double](n)
    assert(out.getAs[Int]("n_words") == 17)
    // 9+4+4+15+2+2+3+4+4 + ("item"4+"line"4)*2 + chars... assert via
    // recomputation instead of a hand sum:
    val words = text.split("\\s+").filter(_.nonEmpty)
    assert(d("mean_word_len") ==
      words.map(_.length).sum.toDouble / words.length)
    assert(d("bullet_line_frac") == 2.0 / 4.0)
    assert(d("ellipsis_line_frac") == 1.0 / 4.0)
    assert(d("dup_line_frac") == 1.0 / 4.0) // one repeated line
    val lineChars = Seq("the words have and that with more body here",
      "• item line", "• item line", "closing thought...").map(_.length)
    assert(d("dup_line_char_frac") ==
      "• item line".length.toDouble / lineChars.sum)
    assert(d("alpha_word_frac") == 15.0 / 17.0) // "•" has no letter
    assert(out.getAs[Int]("n_stop") == 5) // the,have,and,that,with
    // ellipsis symbols: one "..." occurrence
    assert(d("symbol_ratio") == 1.0 / 17.0)
    // fails only the 50-word floor
    assert(!out.getAs[Boolean]("gopher_pass"))
    // a 60-word plain-prose doc with stopwords passes everything
    val good = ("the data and that code have words with more " +
      ("filler tokens here " * 17)).trim
    val g = Curation.gopherFlags(docs(2L -> good), "text", "doc_id")
      .collect().head
    assert(g.getAs[Int]("n_words") >= 50)
    assert(g.getAs[Boolean]("gopher_pass"),
      (g.getValuesMap[Any](g.schema.fieldNames.toSeq)).toString)
  }

  test("gopherFlags is a shuffle-free map-side projection") {
    val plan = Curation.gopherFlags(docs(1L -> "some text"), "text",
      "doc_id").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("decontaminate drops docs sharing a k-shingle with the benchmark") {
    val evalText = "which of the following statements about spark " +
      "catalyst is true given the options below"
    val corpus = docs(
      1L -> s"training doc that quotes: $evalText and then continues on",
      2L -> ("a completely unrelated training document about cooking " +
        "pasta with tomatoes and fresh basil leaves in summer"),
      3L -> ("prefix words " + evalText), // contains the 8-gram
      4L -> "short") // fewer than k tokens => no shingles, never dropped
    val s = spark
    import s.implicits._
    val benchmark = Seq(Tuple1(evalText)).toDF("text")
    val kept = Curation.decontaminate(corpus, benchmark, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L, 4L))
    // plan shape: benchmark keys broadcast; the corpus side is not
    // exchanged before the contamination join
    val plan = Curation.decontaminate(corpus, benchmark, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("removeContaminatedSpans cuts only the benchmark windows") {
    val s = spark
    import s.implicits._
    val evalText = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = docs(
      1L -> s"intro words here $evalText and the body continues after it",
      2L -> evalText, // fully covered -> empty
      3L -> "a completely clean document with no overlap at all whatsoever")
    val benchmark = Seq(Tuple1(evalText)).toDF("text")
    val got = Curation.removeContaminatedSpans(corpus, benchmark,
        "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "intro words here and the body continues after it",
      got(1L))
    assert(got(2L) == "", got(2L))
    assert(got(3L) ==
      "a completely clean document with no overlap at all whatsoever")
    // STRING ids (the web-corpus norm) must work identically — a cast
    // to long would null the join keys and silently no-op the operator
    val sCorpus = Seq(
      ("urn:doc:a", s"intro words here $evalText and the tail"),
      ("urn:doc:b", "spotless text")).toDF("doc_id", "text")
    val got2 = Curation.removeContaminatedSpans(sCorpus, benchmark,
        "text", "doc_id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got2("urn:doc:a") == "intro words here and the tail", got2)
    assert(got2("urn:doc:b") == "spotless text")
  }

  test("repetitionRatio measures duplicated bigram share") {
    val r = docs(
      1L -> "a a a",              // bigrams: (a a) x2 -> 1 - 1/2 = 0.5
      2L -> "w x y z",            // all distinct -> 0
      3L -> "spam spam spam spam spam", // 4 bigrams, 1 distinct -> 0.75
      4L -> "one",                // < n tokens -> 0
      5L -> "")
      .select(col("doc_id"), Curation.repetitionRatio(col("text")).as("r"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) == 0.5 && r(2L) == 0.0 && r(3L) == 0.75)
    assert(r(4L) == 0.0 && r(5L) == 0.0)
  }

  test("hashSample is a deterministic pushable filter near the target rate") {
    val s = spark
    import s.implicits._
    val df = s.range(10000).toDF("id")
    val a = Curation.hashSample(df, col("id"), "28f6") // ~16%
      .collect().map(_.getLong(0)).toSet
    val b = Curation.hashSample(df, col("id"), "28f6")
      .collect().map(_.getLong(0)).toSet
    assert(a == b, "content-stable: same keys every run")
    val frac = a.size / 10000.0
    assert(frac > 0.13 && frac < 0.19, s"got $frac for a 16% threshold")
    // repartitioning the input must not change the sample
    val c = Curation.hashSample(df.repartition(7), col("id"), "28f6")
      .collect().map(_.getLong(0)).toSet
    assert(c == a)
    // no shuffle: it is a plain filter
    assert(!Curation.hashSample(df, col("id"), "28f6")
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("stratifiedTake: exactly n per stratum, narrow rank projection") {
    val s = spark
    import s.implicits._
    val df = s.range(300)
      .select(col("id").as("doc_id"),
        (col("id") % 3).cast("string").as("lang"))
    val out = Curation.stratifiedTake(df, "lang", "doc_id", 7)
    val counts = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.toSet == Set(7L))
    // deterministic across runs
    val ids1 = out.collect().map(_.getLong(1)).sorted.toSeq
    val ids2 = Curation.stratifiedTake(df, "lang", "doc_id", 7)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(ids1 == ids2)
    // the window ranks a narrow projection, never the payload
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wide = df.withColumn("payload", lit("x").substr(0, 1))
    val wins = Curation.stratifiedTake(wide, "lang", "doc_id", 7)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    for (w <- wins) {
      assert(!w.child.output.map(_.name).contains("payload"))
    }
  }

  test("stratifiedTake with duplicate keys: n distinct KEYS per stratum, " +
    "deterministic (ADVICE r03)") {
    // each key appears twice; the rank must run over the distinct
    // (stratum, key) projection so exactly n keys are selected per
    // stratum with a deterministic hash order — every row of a selected
    // key is kept (the documented duplicate-key contract)
    val df = spark.range(100)
      .select((col("id") % 50).as("doc_id"),
        (col("id") % 2).cast("string").as("lang"))
    val out = Curation.stratifiedTake(df, "lang", "doc_id", 5).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
    val perStratumKeys = out.groupBy(_._1).view.mapValues(_.map(_._2).distinct)
    assert(perStratumKeys.values.forall(_.length == 5),
      s"expected 5 distinct keys per stratum, got ${perStratumKeys.toMap}")
    // all duplicate rows of a selected key survive the semi-join
    assert(out.length == 20, s"2 strata x 5 keys x 2 rows, got ${out.length}")
    // deterministic under repartitioning
    val again = Curation.stratifiedTake(df.repartition(7), "lang", "doc_id", 5)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
      .sorted.toSeq
    assert(again == out.sorted.toSeq)
  }

  test("bigramLogProb: hand-computed interpolated scores on a tiny corpus") {
    val s = spark
    import s.implicits._
    // corpus: "a b a b" + "a b c" + "solo"; counts: a=3, b=3, c=1,
    // solo=1, total=8; bigrams: (a,b)=3, (b,a)=1, (b,c)=1; c1: a=3, b=3
    val df = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = Curation.bigramLogProb(df, "text", "doc_id", vocab = 10)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    val pAB = 0.7 * (3.0 / 3) + 0.3 * (3.0 / 8) // P(b|a)=1, P1(b)=3/8
    val pBA = 0.7 * (1.0 / 3) + 0.3 * (3.0 / 8)
    val pBC = 0.7 * (1.0 / 3) + 0.3 * (1.0 / 8)
    val exp1 = (math.log(pAB) + math.log(pBA) + math.log(pAB)) / 3
    val exp2 = (math.log(pAB) + math.log(pBC)) / 2
    assert(out(1L)._2 == 3L && math.abs(out(1L)._1 - exp1) < 1e-12)
    assert(out(2L)._2 == 2L && math.abs(out(2L)._1 - exp2) < 1e-12)
    // single-token doc has no pairs -> absent
    assert(!out.contains(3L))
    // OOV fallback: with vocab=2 only {a, b} survive; pair (b, c) has
    // no bigram and an OOV w2 -> floor term only
    val out2 = Curation.bigramLogProb(df, "text", "doc_id", vocab = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pBCoov = 0.3 * (1.0 / 8)
    val exp2b = (math.log(pAB) + math.log(pBCoov)) / 2
    assert(math.abs(out2(2L) - exp2b) < 1e-12)
  }

  test("bm25: hand-computed Okapi scores; non-matching docs absent") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "window merge window"), (2L, "merge other words here"),
      (3L, "nothing relevant")).toDF("doc_id", "text")
    val out = Curation.bm25(df, "text", "doc_id", Seq("window", "merge"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=3, lens 3/4/2, avgLen=3; df(window)=1, df(merge)=2
    val idfW = math.log((3 - 1 + 0.5) / (1 + 0.5) + 1)
    val idfM = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1)
    val d1 = idfW * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3.0 / 3)) +
      idfM * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 3.0 / 3))
    val d2 = idfM * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 4.0 / 3))
    assert(math.abs(out(1L) - d1) < 1e-9, out.toString)
    assert(math.abs(out(2L) - d2) < 1e-9)
    assert(!out.contains(3L), "no query term -> absent")
    // query casing normalized
    val out2 = Curation.bm25(df, "text", "doc_id", Seq("WINDOW", "Merge"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out2(1L) - out(1L)) < 1e-12)
  }

  test("bm25 corpus stats include zero-token docs (r06 single-scan guard)") {
    // the r06 rewrite derives N/avgLen, hits and lengths from ONE
    // projection; an empty doc must still count into N and avgLen
    // (len 0) exactly as the old three-scan form did
    val s = spark
    import s.implicits._
    val df = Seq((1L, "window window"), (2L, "window other"),
      (3L, ""), (4L, "   ")).toDF("doc_id", "text")
    val out = Curation.bm25(df, "text", "doc_id", Seq("window"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=4 (empty/blank docs counted), lens 2/2/0/0 -> avgLen=1.0;
    // df(window)=2
    val idf = math.log((4 - 2 + 0.5) / (2 + 0.5) + 1)
    val d1 = idf * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 2.0 / 1.0))
    val d2 = idf * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2.0 / 1.0))
    assert(math.abs(out(1L) - d1) < 1e-9, out.toString)
    assert(math.abs(out(2L) - d2) < 1e-9, out.toString)
    assert(!out.contains(3L) && !out.contains(4L))
  }

  test("bm25 on an empty corpus is empty and keeps the id column's type") {
    // avg over zero rows is NULL: the corpus stats have no avgLen
    val s = spark
    import s.implicits._
    val df = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Curation.bm25(df, "text", "doc_id", Seq("window"))
    assert(out.collect().isEmpty)
    assert(out.schema("doc_id").dataType == df.schema("doc_id").dataType)
    assert(out.columns.toSeq == Seq("doc_id", "bm25"))
  }

  test("mixtureSample keeps each stratum near its fraction, drops unlisted") {
    val s = spark
    import s.implicits._
    val df = s.range(9000)
      .select(col("id").as("doc_id"),
        element_at(array(lit("en"), lit("ru"), lit("de")),
          (col("id") % 3 + 1).cast("int")).as("src"))
    val kept = Curation.mixtureSample(df, col("doc_id"), "src",
      Map("en" -> 0.5, "ru" -> 1.0, "de" -> 0.0))
    val counts = kept.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("ru") == 3000L) // fraction 1.0 keeps everything
    assert(!counts.contains("de")) // fraction 0 drops everything
    assert(math.abs(counts("en") - 1500L) < 150, counts.toString)
    // unlisted stratum dropped entirely
    val extra = Seq((99999L, "books")).toDF("doc_id", "src")
    assert(Curation.mixtureSample(df.unionByName(extra), col("doc_id"),
      "src", Map("en" -> 0.5)).filter(col("src") === "books").count() == 0)
    // deterministic and a pushable filter (no exchange)
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(kept.collect().map(_.getLong(0)).sorted.toSeq ==
      Curation.mixtureSample(df, col("doc_id"), "src",
        Map("en" -> 0.5, "ru" -> 1.0, "de" -> 0.0))
        .collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("packSequences chunks by cumulative count; straddlers keep their start window") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 300L), (2L, 300L), (3L, 50L), (4L, 500L))
      .toDF("doc_id", "n")
    val got = Curation.packSequences(df, col("n"), "doc_id", 512)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // cum0: 0, 300, 600, 650
    assert(got.toSeq == Seq((1L, 0L, 0L), (2L, 0L, 300L),
      (3L, 1L, 88L), (4L, 1L, 138L)))
  }

  test("packSequencesBy packs each stratum independently over a narrow window") {
    val s = spark
    import s.implicits._
    val df = Seq(("en", 1L, 400L, "pay"), ("en", 2L, 400L, "load"),
      ("ru", 1L, 400L, "pay"), ("ru", 2L, 200L, "load"))
      .toDF("lang", "doc_id", "n", "payload")
    val got = Curation.packSequencesBy(df, col("n"), "lang", "doc_id", 512)
    val m = got.collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("pack_id"), r.getAs[Long]("pack_offset"))).toMap
    assert(m(("en", 1L)) == ((0L, 0L)) && m(("en", 2L)) == ((0L, 400L)))
    assert(m(("ru", 2L)) == ((0L, 400L))) // ru cum independent of en
    // the window ranks a narrow projection, never the payload
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = got.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    for (w <- wins) assert(!w.child.output.map(_.name).contains("payload"))
  }

  test("unigramLogProb: corpus-derived probs, OOV floor, zero-token docs absent") {
    val got = Curation.unigramLogProb(docs(
        1L -> "a a b", 2L -> "a zzz", 3L -> "   "),
        "text", "doc_id", vocab = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1)
    // counts: a=3, b=1, zzz=1; total=5; vocab(top2 by count desc, tok)=
    // {a:0.6, b:0.2}; OOV floor 1/5
    val d1 = (2 * math.log(0.6) + math.log(0.2)) / 3
    val d2 = (math.log(0.6) + math.log(0.2)) / 2
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    assert(math.abs(got(0)._2 - d1) < 1e-12 && got(0)._3 == 3L)
    assert(math.abs(got(1)._2 - d2) < 1e-12 && got(1)._3 == 2L)
  }

  test("scrubPii masks each class and leaves prose untouched") {
    val got = docs(1L ->
      ("write to bob.smith+x@corp.example.co.uk or see " +
        "https://a.example.com/p?q=1 from 192.168.0.1 " +
        "call +44 (20) 7946-0958 before lunch"))
      .select(Curation.scrubPii(col("text"))).first().getString(0)
    assert(got == "write to <EMAIL> or see <URL> from <IP> " +
      "call <PHONE> before lunch", got)
  }

  test("scrub order: an address inside a URL is masked as the URL") {
    val got = docs(1L -> "go https://x.example.com/u/a@b.com now")
      .select(Curation.scrubPii(col("text"))).first().getString(0)
    assert(got == "go <URL> now", got)
  }

  test("piiCounts are independent raw counts on the unscrubbed text") {
    val row = docs(1L ->
      ("a@b.io c@d.io https://e.example.com 10.0.0.1 10.0.0.2 plain"))
      .select(Curation.piiCounts(col("text")).as("c")).select("c.*")
      .first()
    assert((row.getInt(0), row.getInt(1), row.getInt(2), row.getInt(3))
      == ((1, 2, 2, 0)))
  }

  test("scrubPii stays a map-side projection (no exchange)") {
    val plan = docs(1L -> "x")
      .select(Curation.scrubPii(col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("qualityBuckets: equal-count buckets, best score in bucket 1") {
    val s = spark
    import s.implicits._
    val scored = (1L to 10L).map(i => (i, 100.0 - i)).toDF("doc_id", "s")
    val got = Curation.qualityBuckets(scored, col("s"), "doc_id", 5)
      .select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // doc 1 has the highest score -> bucket 1; two docs per bucket
    assert(got(1L) == 1 && got(2L) == 1 && got(9L) == 5 && got(10L) == 5)
    assert(got.values.groupBy(identity).values.forall(_.size == 2))
  }

  test("qualityBucketsBy ranks inside each stratum over a hash-" +
    "partitioned window (no single-task global sort)") {
    val s = spark
    import s.implicits._
    val scored = (1L to 20L).map(i =>
      (i, if (i <= 10) "en" else "ru", 100.0 - i)).toDF("doc_id", "lang", "s")
    val df = Curation.qualityBucketsBy(scored, col("s"), "lang", "doc_id", 5)
    val got = df.select("doc_id", "lang", "bucket").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    // each language buckets independently: 10 docs / 5 buckets = 2 each
    for (lang <- Seq("en", "ru")) {
      val sizes = got.filter(_._2 == lang).groupBy(_._3).map(_._2.size)
      assert(sizes.toSeq == Seq.fill(5)(2), s"$lang: ${sizes.toSeq}")
    }
    // best en score (doc 1) and best ru score (doc 11) both land in
    // bucket 1 of their own stratum
    assert(got.find(_._1 == 1L).get._3 == 1)
    assert(got.find(_._1 == 11L).get._3 == 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(lang"), plan)
  }

  test("dropLowQualityDomains judges the NULL-domain group too") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Option("good.com"), 0.9), (2L, Option("good.com"), 0.8),
      (3L, Option.empty[String], 0.1), (4L, Option.empty[String], 0.2))
      .toDF("doc_id", "domain", "q")
    // the null-domain group fails the floor -> its docs must be CUT
    // (a plain equality anti-join would silently keep them)
    val kept = Curation.dropLowQualityDomains(df, "domain", col("q"),
        minMeanQuality = 0.5, minDocs = 2L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L))
  }

  test("dropLowQualityDomains cuts failing domains wholesale via a " +
    "broadcast anti-join") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "good.com", 0.9), (2L, "good.com", 0.8), (3L, "good.com", 0.7),
      (4L, "spam.net", 0.1), (5L, "spam.net", 0.9), (6L, "spam.net", 0.2),
      (7L, "tiny.org", 0.99)) // high quality but under the support floor
      .toDF("doc_id", "domain", "q")
    val kept = Curation.dropLowQualityDomains(df, "domain", col("q"),
        minMeanQuality = 0.5, minDocs = 2L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L))
    val plan = Curation.dropLowQualityDomains(df, "domain", col("q"), 0.5, 2L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan)
  }
}
