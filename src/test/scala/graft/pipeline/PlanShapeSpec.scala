package graft.pipeline

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the properties that make the engine scale are
  * pinned here so a refactor can't silently regress them (the ".explain
  * and iterate" discipline, builder prompt).
  */
class PlanShapeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("extractNarrow prunes the parquet scan to 3 columns, no shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft-planshape")
      .toString + "/in"
    Transcripts.generate(spark, 5).write.mode("overwrite").parquet(dir)
    val raw = spark.read.parquet(dir)
    val plan = ExtractPipeline.extractNarrow(raw)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<conv_id:string,turn_idx:int,text:string>"),
      plan)
    assert(!plan.contains("Exchange"), "extraction stage must not shuffle")
  }

  test("filter pushdown reaches the scan") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plan = li.filter(col("l_orderkey") === 42L)
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)"),
      plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"))
  }

  test("dimension joins broadcast (q03)") {
    val plan = graft.SparkEntry.queries("q03_region_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), "dims must broadcast, not SMJ")
  }

  test("semi/anti joins plan as join strategies, not subquery loops") {
    val semi = graft.SparkEntry.queries("q04_semi_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(semi.contains("LeftSemi"), semi)
    val anti = graft.SparkEntry.queries("q05_anti_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(anti.contains("LeftAnti"), anti)
  }

  test("only kernel queries spread their input: q13 reads plainly, " +
    "q16 round-robins its single-split scan") {
    def plan(q: String) = graft.SparkEntry.queries(q)(spark, sf)
      .queryExecution.executedPlan.toString
    val q13 = plan("q13_doc_stats")
    assert(!q13.contains("RoundRobinPartitioning"), q13)
    val q16 = plan("q16_quality")
    assert(q16.contains(
      s"RoundRobinPartitioning(${spark.sparkContext.defaultParallelism})"),
      q16)
  }

  test("spread passes a frame with >= defaultParallelism partitions " +
    "through unchanged") {
    val p = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 1000, 1, p).toDF("id")
    val out = graft.SparkEntry.spread(wide)
    assert(out eq wide)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
    val narrow = spark.range(0, 1000, 1, 1).toDF("id")
    assert(graft.SparkEntry.spread(narrow).rdd.getNumPartitions == p)
  }

  test("pricing summary is one pass: partial agg before the exchange") {
    val plan = graft.SparkEntry.queries("q01_pricing_summary")(spark, sf)
      .queryExecution.executedPlan.toString
    // map-side combine: HashAggregate appears below AND above the shuffle
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("conv-order window carries only narrow columns below its exchange") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val turns = Transcripts.generate(spark, 5)
    val df = ExtractPipeline.withConvOrder(ExtractPipeline.extractNarrow(turns))
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "plan must contain a Window node")
    for (w <- wins) {
      val below = w.child.output.map(_.name)
      val heavy = Seq("documents", "extractedText", "spans")
      assert(!below.exists(heavy.contains),
        s"window input must be narrow, got: ${below.mkString(",")}")
    }
    // the payload still reaches the output (via the two-key join)
    assert(df.columns.contains("extractedText"))
    assert(df.columns.contains("turn_rank"))
    // in-flight input => extraction materialized once (localCheckpoint),
    // not computed twice in the narrow and payload branches (VERDICT r02
    // #5); not persist — that leaks in CacheManager for the session
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("Scan ExistingRDD"),
      "unmaterialized input must be checkpointed once, not re-extracted")
    assert(!phys.contains("MapPartitions"),
      "extraction must not run inside the consuming plan")
    // a materialized table input must NOT be cached
    val dir = java.nio.file.Files.createTempDirectory("graft-convorder")
      .toString + "/t"
    ExtractPipeline.extractNarrow(Transcripts.generate(spark, 3))
      .write.mode("overwrite").parquet(dir)
    import spark.implicits._
    val fromTable = ExtractPipeline.withConvOrder(
      spark.read.parquet(dir).as[ExtractedTurn])
    assert(!fromTable.queryExecution.executedPlan.toString
      .contains("Scan ExistingRDD"),
      "table input must stay a pruned scan, not a checkpoint copy")
  }

  test("q26 flagship extraction plan has no Exchange") {
    val plan = graft.SparkEntry.queries("q26_extract_transcripts")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("checkpointed resume prunes committed buckets at the filter level") {
    val turns = Transcripts.generate(spark, 10)
    val withBucket = turns.withColumn("bucket", ExtractPipeline.bucketCol(4))
    val plan = withBucket.filter(col("bucket").isin(0, 1))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("IN (0,1)") || plan.contains("isin"), plan)
  }

  test("q73 dataset card: map-side combine, scan pruned to 4 columns") {
    val plan = graft.SparkEntry.queries("q73_corpus_report")(spark, sf)
      .queryExecution.executedPlan.toString
    // partial aggregation below the exchange (count/sum combine map-side;
    // the countDistinct leg runs the standard two-phase expand)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      plan)
    assert(plan.contains(
      "ReadSchema: struct<doc_id:bigint,text:string,lang:string,source:string>")
      || plan.contains(
      "ReadSchema: struct<doc_id:bigint,lang:string,source:string,text:string>"),
      plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("removeRepeatedWindows rebuilds AFFECTED docs only: the token " +
    "explode sits behind a left-semi, clean docs never explode") {
    import spark.implicits._
    val d = (0 until 30).map(i =>
      (i.toLong, if (i < 3) "shared dup window one two three four five " +
        s"six seven eight tail $i"
      else s"clean document number $i with its own unique words here"))
      .toDF("doc_id", "text")
    val benchmark = Seq("shared dup window one two three four five six " +
      "seven eight").toDF("text")
    // both callers of the one span-removal skeleton (Dedup.removeWindows)
    val outs = Seq(
      "removeRepeatedWindows" -> graft.operators.Dedup
        .removeRepeatedWindows(d, "text", "doc_id", n = 8),
      "removeContaminatedSpans" -> graft.operators.Curation
        .removeContaminatedSpans(d, benchmark, "text", "doc_id", n = 8))
    for ((op, out) <- outs) {
      val plan = s"$op: " + out.queryExecution.executedPlan.toString
      // the rebuild gate: token explode only for ids with covered positions
      assert(plan.contains("LeftSemi"), plan)
      // the covered positions are checkpointed away (Scan ExistingRDD),
      // so the ONLY Generate left in the consuming plan is the toks
      // posexplode — and it is under the semi join. A second Generate
      // would mean a full-corpus explode crept back in.
      assert("Generate".r.findAllIn(plan).size == 1, plan)
      assert(plan.contains("Scan ExistingRDD"), plan)
    }
  }

  test("q72 curation pipeline: verdict + sample join sides broadcast, " +
    "no cartesian") {
    val plan = graft.SparkEntry.queries("q72_curation_pipeline")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
