package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The query layer: `SparkEntry.queries` in name order, in one session,
  * over the seeded tables `perfbench/tables.py` writes. Each query's
  * result is written as parquet under `work/queries/<name>`, and
  * `SparkEntry.oracleSqlFor` is written next to the results, so the
  * caller can compare every result with its DuckDB oracle.
  */
object QuerySuite {
  import PerfBench._

  type Query = (SparkSession, String) => DataFrame

  /** The queries one pass runs, in name order: the slowest query, near-
    * duplicate detection (q20); two small queries that read their table
    * through the size-gated spread in `SparkEntry.t` (q11, q16) and one
    * that reads around it (q01); and the in-memory media decode (q66).
    * Together they take about four seconds a pass on a 4-core host. The
    * other queries are left out to keep a run within its time budget, or
    * because they build inputs outside their table directory (binary-
    * document corpora, a transcript table, an index layout), which the
    * benchmark may not write.
    */
  val names = Seq("q01_pricing_summary", "q11_sessionize", "q16_quality",
    "q20_minhash_neardups", "q66_media_decode")

  /** The queries, in name order. `SparkEntry.queries` first builds the
    * fixtures of every query, outside the table directory, so the map
    * is read directly.
    */
  def queries: Seq[(String, Query)] = {
    val m = SparkEntry.getClass.getDeclaredMethod("queryMap")
    m.setAccessible(true)
    val all = m.invoke(SparkEntry).asInstanceOf[Map[String, Query]]
    names.map(n => n -> all(n))
  }

  /** One pass's numbers: its wall time, each query's wall time, and when
    * traced the shell's numbers and each query's job count.
    */
  final case class Pass(wall: Double, perQuery: Seq[(String, Double)],
      stats: Option[PassStats], jobs: Map[String, Int])

  /** Passes of every query, closed loop, until `seconds` were measured:
    * warm-up passes first, then timed passes (traced ones in ABBA order
    * with untraced ones when `trace`). Each pass's results overwrite the
    * last, so the results on disk are the last pass's.
    */
  final class Suite(run: Run, spark: SparkSession, dir: String, out: Path) {
    private val qs = queries
    private val shell = new ShellListener(run.tracer)
    private val plans = new PlanListener
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"), Json.write(SparkEntry.oracleSqlFor(dir)))

    def size: Int = qs.size

    def pass(tag: String, traced: Boolean): Pass = {
      if (traced) {
        spark.sparkContext.addSparkListener(shell)
        spark.listenerManager.register(plans)
        shell.reset(); plans.reset()
      }
      val jobs = collection.mutable.LinkedHashMap[String, Int]()
      val t0 = System.nanoTime()
      val perQuery = run.tracer.span("pass", Map("mode" -> tag)) {
        qs.map { case (name, q) =>
          val j0 = if (traced) { PerfbenchBus.drain(spark.sparkContext); shell.jobCount } else 0
          val q0 = System.nanoTime()
          run.op(s"$tag $name") {
            run.tracer.span("query", Map("name" -> name)) {
              q(spark, dir).write.mode("overwrite").parquet(out.resolve(name).toString)
            }
            Nil
          }
          val w = (System.nanoTime() - q0) / 1e9
          if (traced) {
            PerfbenchBus.drain(spark.sparkContext)
            jobs(name) = shell.jobCount - j0
          }
          name -> w
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val stats = Option.when(traced) {
        PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(shell)
        spark.listenerManager.unregister(plans)
        PassStats(shell.snapshot(), plans.snapshot())
      }
      Pass(wall, perQuery, stats, jobs.toMap)
    }

    /** Warm-up passes, then timed passes; returns (untraced, traced). */
    def measure(seconds: Double, trace: Boolean, minPasses: Int): (Seq[Pass], Seq[Pass]) = {
      // three warm-up passes: the first is cold (about 20 s), the pass time
      // falls over the next two
      val warm = warmUp(3)(pass("query.warmup", traced = false).wall)
      val plain = ArrayBuffer[Pass]()
      val traced = ArrayBuffer[Pass]()
      resetPeakHeap()
      timed(seconds, minPasses) { i =>
        val tr = tracedPass(trace, i)
        val p = pass("query", tr)
        if (tr) traced += p else plain += p
        p.wall
      }
      run.record("query_passes") = Map("warmup_s" -> warm,
        "untraced_s" -> plain.map(_.wall).toList, "traced_s" -> traced.map(_.wall).toList,
        "per_query_s" -> (plain ++ traced).map(_.perQuery.toMap).toList)
      (plain.toList, traced.toList)
    }
  }

  /** Median latency of each query over `passes`. */
  def perQueryMedians(passes: Seq[Pass]): Seq[(String, Double)] =
    passes.head.perQuery.map(_._1).map { n =>
      n -> Stats.median(passes.map(_.perQuery.toMap.apply(n)))
    }

  /** The query layer's per-layer metrics from traced passes. */
  def layerMetrics(run: Run, traced: Seq[Pass]): Unit = {
    perQueryMedians(traced).foreach { case (n, s) => run.metric(s"query.${n}_s", s, "s") }
    def med(f: PassStats => Double) = Stats.median(traced.map(p => f(p.stats.get)))
    run.metric("query.jobs", med(_.shell.jobs), "count")
    run.metric("query.stages", med(_.shell.stages), "count")
    run.metric("query.scans", med(_.plans.scans), "count")
    run.metric("query.exchanges", med(_.plans.exchanges), "count")
    run.metric("query.q20_minhash_neardups_jobs",
      Stats.median(traced.map(_.jobs("q20_minhash_neardups").toDouble)), "count")
  }

  /** The query layer's metrics in a traced run of another workload:
    * warm-up passes, then two traced passes.
    */
  def layer(run: Run, spark: SparkSession): Unit = run.tracer.span("query.layer") {
    val suite = new Suite(run, spark, run.a.tables.toString, run.a.work.resolve("queries"))
    val warm = warmUp(2)(suite.pass("query.warmup", traced = false).wall)
    val traced = (1 to 2).map(_ => suite.pass("query", traced = true))
    run.record("query_passes") = Map("warmup_s" -> warm, "traced_s" -> traced.map(_.wall))
    layerMetrics(run, traced)
  }

  /** The query_suite workload. */
  def run(run: Run): Unit = {
    val a = run.a
    val dir = a.tables.toString
    val (spark, sessionS) = secondsOf(run.tracer.span("setup.session")(session(a.cores, a.work)))
    val (suite, suiteS) = secondsOf(run.tracer.span("setup.queries")(
      new Suite(run, spark, dir, a.work.resolve("queries"))))
    // the caller generated the tables: their time is passed in
    run.metric("setup_s", a.tablesSeconds + sessionS + suiteS, "s")
    run.record("setup") = Map("tables_s" -> a.tablesSeconds, "session_s" -> sessionS,
      "queries_s" -> suiteS)
    val tableBytes = dirBytes(a.tables)
    run.record("input") = Map("queries" -> suite.size, "parquet_bytes" -> tableBytes)

    val (plain, traced) = suite.measure(a.seconds, a.trace, minPasses = if (a.trace) 4 else 3)
    run.metric("peak_heap_mb", peakHeapMb(), "MiB")
    val wall = Stats.median(plain.map(_.wall))
    run.metric("wall_s", wall, "s")
    // every query run of the timed passes is one latency sample; a run
    // has about twenty at most, too few for a percentile above the median
    // to leave ten beyond it, so only the median is reported
    val lat = plain.flatMap(_.perQuery.map(_._2))
    run.metric("query_p50_s", Stats.median(lat), "s")
    run.record("latency_samples") = lat.size

    if (a.trace) {
      layerMetrics(run, traced)
      run.metric("trace.overhead_ratio",
        Stats.median(traced.map(_.wall)) / wall, "ratio")
      shellMetrics(run, "pipeline", traced.map(_.stats.get), traced.map(_.wall),
        a.cores, tableBytes)
      run.record("traced_pass_stats") = traced.map(_.stats.get.toMap)
      // the extraction layers, on a small seeded transcript table
      val turns = a.work.resolve("turns")
      run.tracer.span("setup.turns")(
        ExtractWrite.generateInput(spark, a.seed, 20000, 4 * a.cores, turns))
      turnLayers(run, spark, turns)
    }
  }
}
