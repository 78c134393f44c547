package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import org.apache.spark.sql.DataFrame

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("removeRepeatedWindows cuts cross-doc spans, keeps first " +
    "occurrence corpus-wide (ACL'22 removal half)") {
    val d = docs(
      1L -> "alpha beta gamma delta unique one",
      2L -> "alpha beta gamma delta unique two",
      3L -> "totally different content here",
      4L -> "tiny doc",
      5L -> "alpha beta gamma delta")
    val out = Dedup.removeRepeatedWindows(d, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 is the min-id keeper of every shared window: untouched
    assert(out(1L) == "alpha beta gamma delta unique one")
    // doc 2 loses positions covered by its three shared windows (0..4)
    assert(out(2L) == "two")
    // doc 3 shares nothing: normalized pass-through
    assert(out(3L) == "totally different content here")
    // doc 4 has < n tokens: no windows, pass-through
    assert(out(4L) == "tiny doc")
    // doc 5 is fully covered by shared windows: empty, row KEPT
    assert(out(5L) == "")
    // string ids work identically (no silent cast-to-null): keeper is
    // the lexicographic min id
    val s = spark
    import s.implicits._
    val sd = Seq(("a1", "alpha beta gamma delta"),
      ("b2", "alpha beta gamma delta tail words"))
      .toDF("doc_id", "text")
    val sOut = Dedup.removeRepeatedWindows(sd, "text", "doc_id", n = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sOut("a1") == "alpha beta gamma delta")
    assert(sOut("b2") == "tail words", sOut)
  }

  test("removal contract: text_clean is NORMALIZED text for every row " +
    "(clean pass-through and rebuilt docs alike)") {
    // normalization (lowercase, collapsed whitespace) is part of the
    // operator contract — stated in the scaladoc, pinned here: a clean
    // doc comes back as TextStats.normalize(text), not original-cased
    val d = docs(
      1L -> "Mixed CASE   And    Spacing Here",
      2L -> "alpha beta gamma delta epsilon zeta eta theta COMMON",
      3L -> "alpha beta gamma delta epsilon zeta eta theta DIFFERENT")
    val out = Dedup.removeRepeatedWindows(d, "text", "doc_id", n = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mixed case and spacing here")
    assert(out(2L) == "alpha beta gamma delta epsilon zeta eta theta common")
    assert(out(3L) == "different")
  }

  test("exact dedup groups and representative selection") {
    val d = docs(
      1L -> "Hello   World", 2L -> "hello world", 3L -> "unique text here",
      4L -> "HELLO WORLD  ")
    val groups = Dedup.exactDupGroups(d, "text", "doc_id").collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("n_dups") == 3)
    assert(groups.head.getAs[Long]("keep_id") == 1)
    val kept = Dedup.dropExactDups(d, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("wordShingles and jaccard") {
    val s = spark
    import s.implicits._
    val df = docs(1L -> "a b c d", 2L -> "b c d e")
      .select(Dedup.wordShingles(col("text"), 3).as("sh"))
    val shs = df.collect().map(_.getSeq[String](0))
    assert(shs(0) == Seq("a b c", "b c d"))
    assert(shs(1) == Seq("b c d", "c d e"))
    val j = docs(1L -> "x")
      .select(Dedup.jaccard(
        typedLit(Seq("a", "b")), typedLit(Seq("b", "c"))).as("j"))
      .first().getDouble(0)
    assert(math.abs(j - 1.0 / 3.0) < 1e-9)
  }

  test("minhash LSH finds near-dups, skips distinct docs") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val near = base + " extra"
    val far = "completely different content about spark catalyst optimizer internals and partition pruning"
    val d = docs(1L -> base, 2L -> near, 3L -> far)
    val pairs = Dedup.minhashNearDups(d, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("a 500-identical-doc cluster is still reported (no silent cap)") {
    // VERDICT r01 #3: mega-clusters of identical content used to exceed
    // maxBucket and vanish silently. Exact-dup pre-collapse keeps them:
    // one representative goes through LSH, members expand back.
    val boiler = "this license text is repeated verbatim across the corpus " +
      "many times over and forms a mega cluster of identical documents"
    val rows = (1L to 500L).map(i => i -> boiler) :+
      (900L -> (boiler + " with a small suffix change here")) :+
      (901L -> "entirely different content that matches nothing else at all here")
    val d = docs(rows: _*)
    val obs = org.apache.spark.sql.Observation("minhash-cap-test")
    val pairs = Dedup.minhashNearDups(d, "text", "doc_id",
        threshold = 0.5, maxBucket = 8, statsObs = Some(obs))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the full cluster: all C(500,2) internal pairs present
    val internal = pairs.filter { case (a, b) => a <= 500 && b <= 500 }
    assert(internal.length == 500 * 499 / 2)
    // the near-dup doc pairs with the whole cluster, via its representative
    assert(pairs.count { case (a, b) => b == 900L || a == 900L } == 500)
    assert(!pairs.exists { case (a, b) => a == 901L || b == 901L })
    // and nothing was dropped: the collapse kept every bucket <= cap
    val m = obs.get
    assert(m("n_docs_dropped").asInstanceOf[Long] == 0L)
    assert(m("n_oversized_buckets").asInstanceOf[Long] == 0L)
  }

  test("oversized hot bucket degrades to a counted sample, not silence") {
    // 100 DISTINCT docs sharing one long substring -> one hot winnowing
    // fingerprint bucket; with maxBucket=10 the bucket must still emit
    // pairs among its sampled members and count the overflow.
    val common = "shared boilerplate segment that is long enough to produce " +
      "a stable winnowing fingerprint across every single document here"
    val rows = (1L to 100L).map(i => i -> s"doc $i unique preamble $i $common")
    val obs = org.apache.spark.sql.Observation("winnow-cap-test")
    val pairs = Winnow.sharedFingerprintPairs(docs(rows: _*), "text", "doc_id",
        minShared = 1, maxBucket = 10, statsObs = Some(obs))
      .collect()
    assert(pairs.nonEmpty, "sampled pairs must survive the cap")
    val m = obs.get
    assert(m("n_oversized_buckets").asInstanceOf[Long] >= 1L)
    assert(m("n_docs_dropped").asInstanceOf[Long] > 0L)
  }

  test("simhash chunk-pair keys guarantee recall for hamming <= 3") {
    // Manku-style property: for ANY signature and ANY <=3 flipped bits,
    // at least one of the 10 chunk-pair tables yields an equal key.
    val rnd = new scala.util.Random(1234L)
    for (_ <- 1 to 200) {
      val sig = rnd.nextLong()
      val nFlips = 1 + rnd.nextInt(3)
      val flipped = (1 to nFlips).foldLeft(sig) { (s, _) =>
        s ^ (1L << rnd.nextInt(64))
      }
      val shared = Dedup.simhashPairKeys(sig).toSet
        .intersect(Dedup.simhashPairKeys(flipped).toSet)
      assert(shared.nonEmpty, f"no shared key: sig=$sig%x flipped=$flipped%x")
    }
  }

  test("simhash exact-sig collapse expands back with hamming 0") {
    val words = (1 to 60).map(i => s"token$i")
    val base = words.mkString(" ")
    val d = docs(1L -> base, 2L -> base, 3L -> base,
      4L -> "completely different other tokens everywhere nothing shared")
    val out = Dedup.simhashNearDups(d, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSet == Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0)))
  }

  test("simhash near-dups by hamming distance") {
    // simhash needs enough tokens for stable bit votes; 60 words, 1
    // changed -> true hamming 2 (within the chunk-pair recall guarantee)
    val words = (1 to 60).map(i => s"token$i")
    val base = words.mkString(" ")
    val near = words.updated(30, "changed").mkString(" ")
    val far = (1 to 60).map(i => s"other$i").mkString(" ")
    def sig(t: String) = Dedup.simhash64(t.split(" ").toSeq)
    assert(java.lang.Long.bitCount(sig(base) ^ sig(near)) <= 3)
    val d = docs(1L -> base, 2L -> near, 3L -> far)
    val pairs = Dedup.simhashNearDups(d, "text", "doc_id")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("cosine + brute-force topk + ann agree on an easy neighborhood") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 50).map { i =>
      val v = Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat)
      (i.toLong, v.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs(7)._2.map(_.toDouble)
    val brute = Similarity.bruteForceTopK(df, "embedding", "vec_id", q, 1)
      .first()
    assert(brute.getLong(0) == 7L) // itself: cosine 1.0
    assert(math.abs(brute.getDouble(1) - 1.0) < 1e-6)
    val ann = Similarity.annTopK(df, "embedding", "vec_id", q, 1, bits = 4)
      .first()
    assert(ann.getLong(0) == 7L)
  }

  test("cosineNearDups finds duplicated vectors") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat).toSeq)
    } :+ (100L, (0 until 30).head match {
      case _ => Array.tabulate(8)(d => math.sin(0 * 31 + d * 7).toFloat).toSeq
    })
    val df = vecs.toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDups(df, "embedding", "vec_id",
      threshold = 0.999, bits = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 100L)))
  }

  test("asof join picks latest prior value per key") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq((1L, 10L, ts(100)), (1L, 11L, ts(200)), (2L, 20L, ts(50)))
      .toDF("user_id", "event_id", "ts")
    val right = Seq((1L, ts(90), 5.0), (1L, ts(150), 7.0), (2L, ts(60), 9.0))
      .toDF("user_id", "ts", "value")
    val out = EventOps.asofJoin(left, right, "user_id", "ts", "value")
      .select("event_id", "asof_value").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1)))
      .toMap
    assert(out(10L) == 5.0)  // ts=100: latest prior is 90 -> 5.0
    assert(out(11L) == 7.0)  // ts=200: latest prior is 150 -> 7.0
    assert(out(20L) == null) // ts=50: no prior purchase
  }

  test("asof join: equal timestamp is visible (<= semantics)") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq((1L, 10L, ts(100))).toDF("user_id", "event_id", "ts")
    val right = Seq((1L, ts(100), 3.0)).toDF("user_id", "ts", "value")
    val out = EventOps.asofJoin(left, right, "user_id", "ts", "value")
      .select("asof_value").first()
    assert(out.getDouble(0) == 3.0)
  }

  test("sessionize splits on gap") {
    val s = spark
    import s.implicits._
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val e = Seq((1L, ts(0)), (1L, ts(10)), (1L, ts(60)), (1L, ts(65)),
      (2L, ts(0))).toDF("user_id", "ts")
    val out = EventOps.sessionize(e, "user_id", "ts", 30)
      .groupBy("user_id").agg(max("session_idx").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 2L)
    assert(out(2L) == 1L)
  }

  test("winnowing fingerprints: containment guarantee and selectivity") {
    val base = "the quick brown fox jumps over the lazy dog while the band plays on and the crowd cheers loudly tonight"
    // identical text -> identical fingerprint set
    assert(Winnow.fingerprints(base).toSeq == Winnow.fingerprints(base).toSeq)
    // shared long substring -> shared fingerprint (winnowing guarantee)
    val withPrefix = "PREFIX " + base
    val shared = Winnow.fingerprints(base).toSet
      .intersect(Winnow.fingerprints(withPrefix).toSet)
    assert(shared.nonEmpty)
    // disjoint text -> no shared fingerprints
    val other = "completely different words appear here nothing matches at all in this sentence structure"
    assert(Winnow.fingerprints(base).toSet
      .intersect(Winnow.fingerprints(other).toSet).isEmpty)
    assert(Winnow.fingerprints("short").isEmpty) // < k chars
  }

  test("winnowing pair generation finds substring-level near-dups") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val d = docs(1L -> base, 2L -> ("intro words then " + base),
      3L -> "unrelated content entirely made of other tokens that share nothing with the rest of them")
    val pairs = Winnow.sharedFingerprintPairs(d, "text", "doc_id")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("text stats columns") {
    val s = spark
    import s.implicits._
    val df = Seq(Tuple1("hello мир 123")).toDF("text")
    val r = df.select(
      TextStats.tokenCount(col("text")).as("tc"),
      TextStats.cyrillicChars(col("text")).as("cy"),
      TextStats.latinChars(col("text")).as("la"),
      TextStats.digitChars(col("text")).as("di")).first()
    assert(r.getInt(0) == 3 && r.getInt(1) == 3 && r.getInt(2) == 5 &&
      r.getInt(3) == 3)
    assert(Seq(Tuple1("")).toDF("text")
      .select(TextStats.tokenCount(col("text"))).first().getInt(0) == 0)
  }

  test("langid ngram heuristic") {
    assert(LangId.detect("the cat and the dog are in the house") == "en")
    assert(LangId.detect("это договор и устав компании на русском языке") == "ru")
    assert(LangId.detect("der Hund und die Katze sind nicht hier") == "de")
    assert(LangId.detect("") == "unknown")
    assert(LangId.detect("12345 67890") == "unknown")
  }

  test("collapse: persisted aggregate, dup-only mapping, no-dup skip") {
    import org.apache.spark.sql.functions.md5
    // duplicated corpus: mapping holds ONLY multi-member groups
    val dups = docs(1L -> "same text", 2L -> "same text", 3L -> "unique",
      4L -> "other unique")
      .select(col("doc_id").as("id"), md5(col("text")).as("gk"),
        col("text").as("payload"))
    val c = Dedup.collapse(dups)
    assert(c.nRows == 4 && c.nReps == 3)
    val mapping = c.dupMapping.get.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("rep"))).sorted
    assert(mapping.toSeq == Seq((1L, 1L), (2L, 1L)),
      "singletons must not enter the mapping")
    assert(c.reps.count() == 3)
    // distinct corpus: the mapping (and expansion joins) are skipped
    val uniq = docs(1L -> "a1", 2L -> "b2", 3L -> "c3")
      .select(col("doc_id").as("id"), md5(col("text")).as("gk"),
        col("text").as("payload"))
    val c2 = Dedup.collapse(uniq)
    assert(c2.dupMapping.isEmpty && c2.nReps == 3 && c2.nRows == 3)
  }

  test("minhash plan shape: cached collapse, bounded buckets (no " +
    "collect_list of ids)") {
    val d = docs(1L -> ("x " * 20), 2L -> ("x " * 19 + "y"),
      3L -> ("x " * 20)) // one exact dup + one near dup
    val plan = Dedup.minhashNearDups(d, "text", "doc_id", threshold = 0.5)
      .queryExecution.executedPlan.toString
    // every reps scan reads the materialized (localCheckpoint) collapse
    // aggregate — checkpoint blocks surface as an ExistingRDD scan; a
    // persist here would leak in CacheManager for the session (ADVICE r03)
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("InMemoryTableScan"),
      "collapse must not use session-lifetime persist")
    // the id-per-bucket cap is the streaming fold, not an agg buffer
    assert(!plan.contains("collect_list"), plan)
  }

  test("bounded buckets: a 1e5-id hot key yields a capped sample, " +
    "never an unbounded array (VERDICT r02 #3)") {
    // the fold keeps at most maxBucket ids per key by construction, so a
    // pathologically hot key costs a sorted scan, not a 1e5-element
    // aggregation buffer; assert the deterministic sample + counted drops
    val banded = spark.range(100000)
      .select(col("id"), pmod(col("id"), lit(2)).as("bkey"))
    val obs = org.apache.spark.sql.Observation("bounded-hot-key")
    val out = Dedup.boundedBuckets(banded, 64, Some(obs))
      .collect().sortBy(_.getLong(0))
    assert(out.length == 2)
    // deterministic sample: first 64 sorted ids of each key
    assert(out(0).getSeq[Long](1) == (0L until 128L by 2))
    assert(out(1).getSeq[Long](1) == (1L until 129L by 2))
    assert(out.map(_.getLong(2)).toSeq == Seq(50000L, 50000L))
    val m = obs.get
    assert(m("n_buckets").asInstanceOf[Long] == 2L)
    assert(m("n_oversized_buckets").asInstanceOf[Long] == 2L)
    assert(m("n_docs_dropped").asInstanceOf[Long] == 2L * (50000 - 64))
  }

  test("auto-sized LSH keyspace bounds the capped fraction at 1e6 " +
    "vectors without hand-tuning (VERDICT r02 #8)") {
    val s = spark
    import s.implicits._
    assert(Similarity.autoBits(1000000L) == 17)
    assert(Similarity.autoBits(1000000000L) == 27)
    assert(Similarity.autoBits(10L) == 4)
    // keying stage at 1e6: deterministic pseudo-gaussian vectors, one
    // table of autoBits hyperplanes, bounded buckets. Sign-pattern cells
    // are heavy-tailed (measured: zero-oversize costs ~log2(n)+2 bits =
    // per-table recall collapse), so the sizing claim is:
    // capped-and-COUNTED drops stay a small fraction per table that the
    // remaining independent tables recover.
    val dim = 16
    val n = 1000000L
    val bits = Similarity.autoBits(n)
    val vecs = s.range(n).map { id =>
      val rnd = new scala.util.Random(id * 0x9e3779b97f4a7c15L + 5L)
      (id, Array.fill(dim)(rnd.nextGaussian()))
    }.toDF("id", "v")
    val keyed = vecs.select(col("id"),
      Similarity.lshBucket(col("v"), Similarity.hyperplanes(dim, bits, 7L))
        .as("bkey"))
    val obs = org.apache.spark.sql.Observation("auto-bits-1e6")
    val nBkts = Dedup.boundedBuckets(keyed, maxBucket = 256, Some(obs))
      .count()
    val m = obs.get
    assert(nBkts > 1000, s"keyspace collapsed: $nBkts buckets")
    val dropped = m("n_docs_dropped").asInstanceOf[Long]
    assert(dropped < n / 20,
      s"capped fraction ${dropped.toDouble / n} exceeds 5% per table " +
        s"(oversized=${m("n_oversized_buckets")} of ${m("n_buckets")})")
  }

  test("crossDocRepeatedWindows counts shared positional windows only") {
    // doc 2 embeds doc 1's first 5 tokens verbatim; doc 3 is disjoint;
    // doc 4 repeats one of ITS OWN windows twice (not cross-doc)
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "prefix words alpha beta gamma delta epsilon something else",
      3L -> "one two three four five six seven",
      4L -> "x y z w x y z w x y z w")
    val got = Dedup.crossDocRepeatedWindows(d, "text", "doc_id", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc1: windows 2 ("a b g d e", "b g d e z"); the first also occurs
    // in doc2 => 1 dup window. doc2: 5 windows, 1 shared. doc3: 3, 0.
    // doc4: 8 windows, all self-repeats, 0 cross-doc.
    assert(got(1L) == ((2L, 1L)), got.toString)
    assert(got(2L) == ((5L, 1L)))
    assert(got(3L) == ((3L, 0L)))
    assert(got(4L) == ((8L, 0L)))
    // a doc under n tokens is absent
    assert(!Dedup.crossDocRepeatedWindows(docs(9L -> "too short"),
      "text", "doc_id", n = 5).collect().map(_.getLong(0)).contains(9L))
  }

  test("crossDocRepeatedWindows weights dup windows by multiplicity") {
    // r06 rewrite guard (one join + one conditional-sum aggregate): a
    // window occurring TWICE in one doc and also in another doc must
    // count BOTH occurrences into n_dup_windows (the sum runs over the
    // per-(doc, key) multiplicity _m, not over distinct keys)
    val d = docs(
      1L -> "p q r s t",
      2L -> "p q r s t x p q r s t")
    val got = Dedup.crossDocRepeatedWindows(d, "text", "doc_id", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc1: one window, shared with doc2 -> (1, 1)
    // doc2: 7 positional windows, "p q r s t" occurs at positions 0 and
    // 6 (multiplicity 2) and is cross-doc -> (7, 2); the other 5
    // windows are doc2-only
    assert(got(1L) == ((1L, 1L)), got.toString)
    assert(got(2L) == ((7L, 2L)), got.toString)
  }
}
