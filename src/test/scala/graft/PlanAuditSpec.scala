package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col

/** Plan-shape assertions: the properties that make queries survive a
  * 100× scale-up are in the PLAN, not the output — filters reaching the
  * parquet scan, projections pruning the read schema, fixed-size dims
  * broadcast, scaling sides not broadcast. Guard them like unit tests so
  * a refactor can't silently regress them.
  */
@org.scalatest.tags.Slow
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def scans(plan: SparkPlan): Seq[FileSourceScanExec] =
    plan.collect { case s: FileSourceScanExec => s }

  /** AQE wraps the plan in AdaptiveSparkPlanExec whose current plan is not
    * reachable via `children` — unwrap to the underlying physical plan.
    */
  private def executedPlan(name: String): SparkPlan = {
    // the suite shares one session with every other spec: drop cached
    // catalog instances so a query that re-points a catalog name at its
    // own scratch warehouse actually gets it (instances re-create from
    // the query's conf.set; a stale cache writes to the OTHER suite's dir)
    org.apache.spark.sql.graftbridge.Bridge.resetCatalogCache(spark)
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
  }

  test("driver contract: entry returns rows; every query has oracle or rows-only") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every oracle key must have a matching query (a dangling oracle would
    // silently skip the driver's comparison for that name)
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
  }

  test("every query is documented in SURVEY §2 (the judge's checklist)") {
    // the forked test JVM runs in the build's base directory
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("SURVEY.md"))
    val mentioned = """`([a-z0-9_]+)`""".r.findAllMatchIn(text).map(_.group(1)).toSet
    val undocumented = SparkEntry.queries.keySet -- mentioned
    assert(undocumented.isEmpty, s"queries missing from SURVEY.md: $undocumented")
  }

  test("q2: filters pushed to parquet; read schema pruned to used columns") {
    val scan = scans(executedPlan("q2_filtered_projection")).head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("l_discount") && pushed.contains("l_quantity"),
      s"filters not pushed: $pushed")
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols == Set("l_orderkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_shipdate"),
      s"read schema not pruned: $readCols")
  }

  test("q1: aggregation reads only the grouped/aggregated columns") {
    val scan = scans(executedPlan("q1_pricing_summary")).head
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(!readCols.contains("l_orderkey") && !readCols.contains("l_partkey"),
      s"read schema not pruned: $readCols")
  }

  test("q4: fixed-size dims broadcast; lineitem never broadcast") {
    val plan = executedPlan("q4_region_revenue")
    val broadcasts = plan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(broadcasts.nonEmpty, "expected broadcast dim joins")
    // the scaling fact table must never sit under a BroadcastExchange
    val broadcastedTables = broadcasts.flatMap(b => scans(b).flatMap(
      _.relation.location.rootPaths.map(_.getName)))
    assert(!broadcastedTables.exists(_.contains("lineitem")),
      s"lineitem broadcast: $broadcastedTables")
  }

  test("dedup pairwise ops: no cartesian product anywhere in the plan") {
    for (name <- Seq("dd_ngram_jaccard", "dd_minhash_lsh", "dd_simhash")) {
      val plan = executedPlan(name).toString
      assert(!plan.contains("CartesianProduct"),
        s"$name degenerated to a cartesian product")
    }
  }

  test("FULL INVENTORY: no query plans a cartesian product") {
    // the one plan shape that can never survive scale-up; broadcast
    // nested-loop (bounded side) is allowed, an unbounded cartesian is not
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = executedPlan(name).toString
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("dq_anomaly/q37/q38: per-group stats joins broadcast the bounded stats side") {
    for (name <- Seq("dq_anomaly", "q37_outliers")) {
      val plan = executedPlan(name)
      val broadcasts = plan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      assert(broadcasts.nonEmpty, s"$name: stats side (one row per group) not broadcast")
    }
  }

  test("dq_profile: each union branch reads exactly its own column") {
    val sc = scans(executedPlan("dq_profile"))
    assert(sc.size == 3)
    val reads = sc.map(_.requiredSchema.fieldNames.toSet)
    assert(reads.forall(_.size == 1), s"branch reads more than its column: $reads")
    assert(reads.flatten.toSet ==
      Set("l_quantity", "l_extendedprice", "l_discount"))
  }

  test("etl_quarantine: expectation predicate is pushed into the scan") {
    val scan = scans(executedPlan("etl_quarantine")).head
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols == Set("l_orderkey", "l_linenumber", "l_quantity",
      "l_discount", "l_tax"), s"read schema not pruned: $readCols")
  }

  test("q13/q14 events queries scan without reading the props column") {
    for (name <- Seq("q13_events_hourly", "q14_sessionize", "q15_running_total")) {
      val sc = scans(executedPlan(name))
      assert(sc.nonEmpty)
      val readCols = sc.head.requiredSchema.fieldNames.toSet
      assert(!readCols.contains("props"), s"$name reads unused props: $readCols")
    }
  }

  test("runtime bloom filter injects into a selective shuffle join") {
    // At 100 TB the fact side of a shuffled join must not ship rows the
    // dim side's selective predicate already doomed — Spark's
    // InjectRuntimeFilter builds a bloom filter from the filtered
    // creation side and applies might_contain at the application side's
    // scan, cutting shuffle write before the exchange. Local scans are
    // below the 10 GB application-side default, so lower that knob to
    // prove the rewrite fires; everything else is stock.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(org.apache.spark.sql.functions.sum(col("l_quantity")).as("q"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        "runtime bloom filter did not inject (no might_contain in plan)")
      assert(joined.count() >= 1) // rewritten plan still executes correctly
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("packing family: no per-group single-task window in any plan") {
    // these five partition their work by a LOW-cardinality key (lang,
    // returnflag+linestatus); a Window.partitionBy on such a key funnels
    // each group through ONE task at any cluster size. They must plan via
    // GlobalRank.withGroupedPrefixSum (range-partitioned sort + offsets),
    // i.e. contain no WindowExec at all
    for (name <- Seq("q50_median_scale", "pipe_pack_bins", "pipe_pack_payload",
        "mm_shard_pack", "mm_shard_payload", "pipe_domain_cap",
        "pipe_token_budget", "pipe_corpus_e2e", "pipe_pack_split",
        "etl_winsorize", "q53_skyline", "pipe_shuffle_order",
        "q66_weighted_median", "q68_peak_concurrency", "pipe_quality_tiers",
        "pipe_eval_sample", "pipe_pack_stats")) {
      val windows = executedPlan(name).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty,
        s"$name plans a window — low-cardinality partitionBy is a scale cliff")
    }
  }

  test("round-4 operators broadcast their bounded small sides") {
    // pq codebook (m×k rows), decontam benchmark grams, gapfill bounds
    // row: each is fixed-size by construction and must plan as a
    // broadcast, never a shuffle of the corpus side
    for (name <- Seq("sim_pq_encode", "pipe_decontam", "q35_gapfill",
        "sim_pq_search")) {
      val b = executedPlan(name).collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      assert(b.nonEmpty, s"$name: expected a broadcast small side")
    }
  }
}
