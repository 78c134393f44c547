package graft.operators

import graft.SparkTestSession
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite

object CheckpointSpec {
  private val words = Array("alpha", "beta", "gamma", "delta", "window",
    "merge", "vector", "epsilon", "zeta", "theta")

  /** 15 distinct texts over `x % 15`: a corpus of 60 holds exact
    * duplicates (4 copies of each text) and near duplicates (texts that
    * share most of their words).
    */
  def text(x: Long): String = {
    val k = (x % 15).toInt
    (0 until 14)
      .map(i => words((i * (k % 5 + 1) + k / 5 + i / 7) % words.length))
      .mkString(" ")
  }
}

/** Compute-once, pinned by counting input rows read: every input is a
  * `map` that adds one to an accumulator per row it passes, so a frame
  * computed twice reads its input twice.
  */
class CheckpointSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      TestBus.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("checkpointBy: its aggregate fills the checkpoint in one pass; " +
    "later actions read the checkpoint") {
    val s = spark
    import s.implicits._
    val n = 1000L
    val reads = s.sparkContext.longAccumulator("checkpointBy-reads")
    val df = s.range(0, n, 1, 4).map { x => reads.add(1); x.longValue }
      .toDF("x")
    val ((cp, row), jobs) = jobsIn(Dedup.checkpointBy(df, count(lit(1))))
    assert(row.getLong(0) == n)
    // the aggregate's own jobs only: AQE runs its map stage and its
    // result stage as one job each. A first consumer that is not a full
    // pass (a limit) leaves partitions for Spark to fill in an extra job.
    assert(jobs == 2)
    assert(reads.value == n)
    assert(cp.agg(sum("x")).first().getLong(0) == n * (n - 1) / 2)
    assert(cp.filter(col("x") % 2 === 0).count() == n / 2)
    assert(reads.value == n)
  }

  /** A 60-doc corpus read from a 4-partition range; every scan of it
    * adds 60 to `reads`.
    */
  private def corpus(reads: LongAccumulator): DataFrame = {
    val s = spark
    import s.implicits._
    s.range(0, 60, 1, 4)
      .map { x => reads.add(1); (x.longValue, CheckpointSpec.text(x)) }
      .toDF("doc_id", "text")
  }

  /** (input rows read, result rows) of collecting `op` over [[corpus]]. */
  private def readsOf(op: DataFrame => DataFrame): (Long, Int) = {
    val reads = spark.sparkContext.longAccumulator("corpus-reads")
    val rows = op(corpus(reads)).collect().length
    (reads.value, rows)
  }

  // Each pinned count is that of a plan computing every checkpoint once.
  // Where it is above 1, the extra scans are consumers that read the
  // input itself, not a checkpoint: minhashNearDups's dup-mapping joins
  // back to the keyed input, the LM scorers' scoring join and bigram
  // pairs. A checkpoint computed twice re-reads its input and raises
  // the count.
  test("minhashNearDups reads its input 4 times (collapse computed once)") {
    assert(readsOf(Dedup.minhashNearDups(_, "text", "doc_id",
      threshold = 0.5)) == ((240L, 250)))
  }

  test("unigramLogProb reads its input twice (token counts computed once)") {
    assert(readsOf(Curation.unigramLogProb(_, "text", "doc_id")) ==
      ((120L, 60)))
  }

  test("bigramLogProb reads its input 3 times (token counts computed once)") {
    assert(readsOf(Curation.bigramLogProb(_, "text", "doc_id")) ==
      ((180L, 60)))
  }

  test("bm25 reads its input once (per-doc summary computed once)") {
    assert(readsOf(Curation.bm25(_, "text", "doc_id",
      Seq("window", "merge"))) == ((60L, 52)))
  }
}
