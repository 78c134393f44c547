package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ExtractStats
import graft.pipeline.{ExtractPipeline, Transcripts, Turn}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** One benchmark run: a closed loop with one client (the next pass starts
  * when the previous one ends) over inputs generated from the seed.
  * Writes the run's artifact (metrics, every per-pass number, the noise
  * record and, when traced, the spans) as JSON to `--out`.
  *
  * Workloads:
  *  - extract_write: `ExtractPipeline.runCheckpointed` over the generated
  *    transcript table into an empty directory each pass (scan, kernel,
  *    bucket exchange, sort, parquet write, manifest commit);
  *  - query_suite: `SparkEntry.queries` over seeded tables (`--tables`).
  * A traced run measures every layer: the workload's own passes give the
  * Spark shell's numbers, and the layers the workload does not reach are
  * measured after them in the same session.
  */
object PerfBench {

  val nBuckets = 32

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, turns: Long, work: Path, out: Path,
      tables: Path, tablesSeconds: Double)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, kv("turns").toLong,
      Paths.get(kv("work")).toAbsolutePath, Paths.get(kv("out")).toAbsolutePath,
      Paths.get(kv("tables")).toAbsolutePath, kv("tables-seconds").toDouble)
  }

  private def loadAvg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3)
      .map(_.toDouble).toSeq
    catch { case _: Exception => Nil }

  /** Host-wide CPU jiffies from /proc/stat: (total, steal, idle). */
  private def cpuJiffies(): Seq[Long] =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).map(_.toLong)
      Seq(f.sum, if (f.length > 7) f(7) else 0L, f(3))
    } catch { case _: Exception => Seq(0L, 0L, 0L) }

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
    finally s.close()
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  /** Sum of the heap pools' peak use since the last reset, in MiB. */
  def peakHeapMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetPeakHeap(): Unit = heapPools.foreach(_.resetPeakUsage())

  def session(cores: Int, work: Path): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `n` warm-up passes; `pass` returns its wall time. A fixed count puts
    * every run's timed passes at the same point of the JIT's warm-up
    * curve: a count that depends on the pass times themselves spreads
    * runs along that curve.
    */
  def warmUp(n: Int)(pass: => Double): Seq[Double] = Seq.fill(n)(pass)

  /** Timed passes until `seconds` have been measured and at least
    * `minPasses` ran. `pass` gets the pass index and returns its wall time.
    */
  def timed(seconds: Double, minPasses: Int)(pass: Int => Double): Seq[Double] = {
    val walls = ArrayBuffer[Double]()
    while (walls.size < minPasses || walls.sum < seconds) walls += pass(walls.size)
    walls.toList
  }

  /** Whether timed pass `i` of a traced run is traced: passes go untraced,
    * traced, traced, untraced (ABBA), so neither side gets the later,
    * warmer passes.
    */
  def tracedPass(trace: Boolean, i: Int): Boolean = trace && (i % 4 == 1 || i % 4 == 2)

  /** Mutable state of one run, turned into the artifact at the end. */
  final class Run(val a: Args) {
    val tracer = new Tracer(
      s"${a.workload}-${a.seed}-${System.currentTimeMillis()}", a.trace)
    val metrics = collection.mutable.LinkedHashMap[String, (Double, String)]()
    val record = collection.mutable.LinkedHashMap[String, Any]()
    var attempted = 0L
    var failed = 0L
    val failures = ArrayBuffer[String]()

    def metric(name: String, value: Double, unit: String): Unit =
      metrics(name) = (value, unit)

    /** One counted operation: fails on an exception or a failed check. */
    def op(what: String)(body: => Seq[String]): Unit = {
      attempted += 1
      val problems =
        try body
        catch { case e: Exception => Seq(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      if (problems.nonEmpty) {
        failed += 1
        failures ++= problems.map(p => s"$what: $p")
      }
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val run = new Run(a)
    run.record("nproc") = a.cores
    run.record("load_avg_before") = loadAvg()
    val cpu0 = cpuJiffies()
    run.record("jvm_max_heap_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    run.tracer.span("run", Map("workload" -> a.workload, "seed" -> a.seed)) {
      a.workload match {
        case "extract_write" => ExtractWrite.run(run)
        case "query_suite" => QuerySuite.run(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    }
    run.record("run_s") = (System.nanoTime() - t0) / 1e9
    run.record("load_avg_after") = loadAvg()
    // host CPU time stolen by the hypervisor and left idle while this run
    // measured: the two signs of a contended or a starved run
    val d = cpuJiffies().zip(cpu0).map { case (x, y) => (x - y).toDouble }
    run.record("host_steal_share") = if (d(0) > 0) d(1) / d(0) else 0.0
    run.record("host_idle_share") = if (d(0) > 0) d(2) / d(0) else 0.0
    SparkSession.getActiveSession.foreach(_.stop())
    val artifact = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "run_id" -> run.tracer.runId,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "failures" -> run.failures.toList,
      "metrics" -> run.metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "record" -> run.record,
      "spans" -> run.tracer.all.size)
    Files.writeString(a.out, Json.write(artifact))
    if (a.trace) {
      Files.write(Paths.get(a.out.toString.stripSuffix(".json") + ".spans.jsonl"),
        run.tracer.toJsonLines.asJava)
    }
  }

  // ---------------------------------------------------------------- layers

  /** Spark-side numbers of a set of passes, as per-layer metrics. */
  def shellMetrics(run: Run, prefix: String, stats: Seq[PassStats],
      walls: Seq[Double], cores: Int, inputBytes: Long): Unit = {
    def med(f: ShellStats => Double) = Stats.median(stats.map(p => f(p.shell)))
    run.metric(s"$prefix.jobs", med(_.jobs), "count")
    run.metric(s"$prefix.stages", med(_.stages), "count")
    run.metric(s"$prefix.tasks", med(_.tasks), "count")
    run.metric(s"$prefix.input_read_ratio",
      Stats.median(stats.map(_.plans.scanBytes.toDouble / inputBytes)), "ratio")
    run.metric(s"$prefix.shuffle_write_bytes", med(_.shuffleWrite), "bytes")
    run.metric(s"$prefix.shuffle_read_bytes", med(_.shuffleRead), "bytes")
    run.metric(s"$prefix.gc_ms", med(_.gcMs), "ms")
    run.metric(s"$prefix.task_skew", med(_.taskSkew), "ratio")
    val paired = stats.zip(walls)
    run.metric(s"$prefix.busy_share", Stats.median(paired.map { case (s, w) =>
      s.shell.taskMs / 1000.0 / (cores * w) }), "ratio")
    run.metric(s"$prefix.driver_gap_s", Stats.median(paired.map { case (s, w) =>
      (w - unionSeconds(s.shell.jobIntervals)).max(0.0) }), "s")
  }

  /** Total length of the union of [start, end] millisecond intervals. */
  private def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  /** The core and functions layers on a fixed sample of the transcript
    * table `in`, and three kinds of Spark pass over all of it: scan only,
    * scan -> `extract_stats(text)` -> count + byte sum, and
    * `extractNarrow` into a `noop` sink. The three split a pass into
    * scan, kernel and serde boundary. The `extract_stats` pass's count
    * and byte sum are checked against a kernel fold.
    */
  def turnLayers(run: Run, spark: SparkSession, in: Path): Unit = {
    val sample = run.tracer.span("setup.sample")(Checks.sample(spark, in, 20000))
    run.metric("core.sample_turns", sample.size, "count")
    new Kernel(sample, run.tracer).measure(run.a.cores).foreach { case (k, v) =>
      run.metric(k, v, if (k.contains("alloc")) "bytes" else
        if (k.endsWith("_per_s")) "1/s" else "ns")
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def scan(): Unit = noop(spark.read.parquet(in.toString)
      .select(col("conv_id"), col("turn_idx"), col("text")))
    def statsScan(): (Long, Long) = {
      val r = spark.read.parquet(in.toString)
        .select(ExtractStats.extractStats(col("text")).as("s"))
        .agg(count(lit(1)), sum(col("s.n_bytes")))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    def payload(): Unit = noop(ExtractPipeline.extractNarrow(
      spark.read.parquet(in.toString)).toDF())
    val reference = run.tracer.span("check.reference_fold")(Checks.kernelFold(spark, in))
    def median3(name: String)(body: => Unit): Double = {
      body
      Stats.median((1 to 3).map(_ => secondsOf(run.tracer.span(name)(body))._2))
    }
    run.metric("pipeline.scan_s", median3("pipeline.scan")(scan()), "s")
    run.metric("functions.stats_scan_s", median3("functions.stats_scan") {
      val got = statsScan()
      run.op("extract_stats pass")(Checks.scan(got, reference))
    }, "s")
    run.metric("pipeline.payload_s", median3("pipeline.payload")(payload()), "s")
  }

  // -------------------------------------------------------- extract_write

  object ExtractWrite {

    def run(run: Run): Unit = {
      val a = run.a
      val in = a.work.resolve("input")
      val out = a.work.resolve("output")

      // set-up, each step once and cold, as a user pays it: session start,
      // then the seeded input table
      val (spark, sessionS) = secondsOf(run.tracer.span("setup.session")(session(a.cores, a.work)))
      val (_, genS) = secondsOf(run.tracer.span("setup.generate") {
        generateInput(spark, a.seed, a.turns, 4 * a.cores, in)
      })
      run.metric("setup_s", sessionS + genS, "s")
      run.record("setup") = Map("session_s" -> sessionS, "generate_s" -> genS)
      val nTurns = spark.read.parquet(in.toString).count()
      val inputBytes = dirBytes(in)
      run.record("input") = Map("turns" -> nTurns,
        "parquet_bytes" -> inputBytes, "files" -> 4 * a.cores)

      val shell = new ShellListener(run.tracer)
      val plans = new PlanListener

      /** One pass into an empty directory, then its manifest check,
        * outside the timed interval. Returns the wall time and, when
        * traced, the shell's numbers.
        */
      def pass(tag: String, traced: Boolean): (Double, Option[PassStats]) = {
        deleteTree(out)
        if (traced) {
          spark.sparkContext.addSparkListener(shell)
          spark.listenerManager.register(plans)
          shell.reset(); plans.reset()
        }
        val t0 = System.nanoTime()
        run.tracer.span("pass", Map("mode" -> tag)) {
          run.tracer.span("pipeline.runCheckpointed") {
            ExtractPipeline.runCheckpointed(spark,
              spark.read.parquet(in.toString).as[Turn](Encoders.product[Turn]),
              out.toString, nBuckets)
          }
        }
        val w = (System.nanoTime() - t0) / 1e9
        val stats = Option.when(traced) {
          PerfbenchBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(shell)
          spark.listenerManager.unregister(plans)
          PassStats(shell.snapshot(), plans.snapshot())
        }
        run.op(s"$tag pass")(run.tracer.span("check.manifests")(Checks.manifests(out, nTurns)))
        (w, stats)
      }

      // four full warm-up passes (the pass time falls over them; later
      // passes agree within the host's noise), then timed passes: at least
      // three, so one slow pass never sets the median
      val warm = warmUp(4)(pass("warmup", traced = false)._1)
      val plain = ArrayBuffer[Double]()
      val traced = ArrayBuffer[Double]()
      val stats = ArrayBuffer[PassStats]()
      resetPeakHeap()
      timed(a.seconds, minPasses = if (a.trace) 4 else 3) { i =>
        val tr = tracedPass(a.trace, i)
        val (w, st) = pass("timed", tr)
        if (tr) { traced += w; stats ++= st } else plain += w
        w
      }
      run.metric("peak_heap_mb", peakHeapMb(), "MiB")
      run.record("passes") = Map("warmup_s" -> warm, "untraced_s" -> plain.toList,
        "traced_s" -> traced.toList)
      val wall = Stats.median(plain.toList)
      run.metric("wall_s", wall, "s")
      run.metric("turns_per_s", nTurns / wall, "1/s")
      // the last pass's committed table gets the full check
      run.op("committed table")(run.tracer.span("check.committed")(
        Checks.committed(spark, in, out, nTurns)))

      if (a.trace) {
        run.metric("trace.overhead_ratio", Stats.median(traced.toList) / wall, "ratio")
        shellMetrics(run, "pipeline", stats.toList, traced.toList, a.cores, inputBytes)
        run.record("traced_pass_stats") = stats.map(_.toMap).toList
        turnLayers(run, spark, in)
        QuerySuite.layer(run, spark)
      }
    }

    /** The first `turns` turns, in (conv_id, turn_idx) order, of the
      * transcript table `Transcripts.generate` makes from `seed`, written
      * as `files` parquet files of equal row count. A fixed turn count
      * keeps a pass's work the same across seeds; the conversation-length
      * skew and the text mix still come from the seed.
      */
    def generateInput(spark: SparkSession, seed: Long, turns: Long, files: Int,
        in: Path): Unit = {
      // about 19 turns per conversation on average: 15 leaves a margin
      val convs = turns / 15 + 1
      Transcripts.generate(spark, convs, seed).toDF()
        .orderBy("conv_id", "turn_idx")
        .limit(turns.toInt)
        .repartition(files)
        .write.mode("overwrite").parquet(in.toString)
    }
  }
}
