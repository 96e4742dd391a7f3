package graft.tools

import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Storage-partitioned-join micro-benchmark (SURVEY §5): the same
  * fact-fact equi-join measured over three layouts of identical data —
  *
  *   shuffled  — plain parquet both sides: the join shuffles BOTH inputs
  *               on the key (the 100 TB worst case this feature removes).
  *   spj       — co-bucketed graft-catalog tables (`bucket(n, key)`):
  *               KeyGroupedPartitioning aligns the bucket files, zero
  *               Exchange; one Sort per side (multi-file buckets).
  *   spj-sorted— after per-bucket compaction: one key-sorted file per
  *               bucket, the scan reports its ordering, the merge join
  *               runs with zero Exchange AND zero Sort.
  *
  * The absolute deltas are modest at sf-scale row counts on one machine —
  * local shuffles never cross a NIC. The point of the measurement is the
  * PLAN (exchanges removed, sorts removed, asserted here at runtime) plus
  * the direction of the time delta; at 1000 executors the removed
  * exchange is the dominant cost of the join.
  *
  * usage: runMain graft.tools.SpjProbe [nFact] [nDim] [nBuckets]
  */
object SpjProbe {
  def main(args: Array[String]): Unit = {
    val nFact = args.headOption.map(_.toLong).getOrElse(20000000L)
    val nDim = args.drop(1).headOption.map(_.toLong).getOrElse(2000000L)
    val nBuckets = args.drop(2).headOption.map(_.toInt).getOrElse(32)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.sorting.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val wh = s"${sys.props("java.io.tmpdir")}/graft_spj_probe_${UUID.randomUUID()}"
    spark.conf.set("spark.sql.catalog.graft_spj", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_spj.warehouse", wh)
    spark.sql("CREATE NAMESPACE graft_spj.db")

    // identical data, three layouts
    val fact = spark.range(nFact)
      .select(($"id" % nDim).as("k"), ($"id" * 3 % 1000).as("amt"))
    val dim = spark.range(nDim).select($"id".as("k"), ($"id" % 97).as("grp"))
    fact.write.parquet(s"$wh/plain_fact")
    dim.write.parquet(s"$wh/plain_dim")
    spark.sql(s"CREATE TABLE graft_spj.db.fact (k BIGINT, amt BIGINT) PARTITIONED BY (bucket($nBuckets, k))")
    spark.sql(s"CREATE TABLE graft_spj.db.dim (k BIGINT, grp BIGINT) PARTITIONED BY (bucket($nBuckets, k))")
    spark.table("graft_spj.db.fact") // force catalog init
    fact.createOrReplaceTempView("src_fact")
    dim.createOrReplaceTempView("src_dim")
    // two appends -> two files per bucket, so the pre-compaction "spj"
    // variant shows the Sort-carrying plan and compaction removes it
    spark.sql(s"INSERT INTO graft_spj.db.fact SELECT * FROM src_fact WHERE k % 2 = 0")
    spark.sql(s"INSERT INTO graft_spj.db.fact SELECT * FROM src_fact WHERE k % 2 = 1")
    spark.sql("INSERT INTO graft_spj.db.dim SELECT * FROM src_dim")

    def planOf(q: org.apache.spark.sql.DataFrame): String = {
      q.collect()
      q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
    }

    def time(label: String, agg: => org.apache.spark.sql.DataFrame): Unit = {
      val plan = planOf(agg) // warm + capture final plan
      val times = (1 to 3).map { _ =>
        spark.sharedState.cacheManager.clearCache(); System.gc()
        val t0 = System.nanoTime(); agg.collect(); (System.nanoTime() - t0) / 1e9
      }
      val exch = "Exchange".r.findAllIn(plan).size
      val sorts = " Sort \\[".r.findAllIn(plan).size
      println(f"$label%-11s min=${times.min}%.2fs exchanges=$exch sorts=$sorts")
    }

    val q = "SELECT f.k %% 1000 AS kb, count(*) AS n, sum(f.amt * d.grp) AS s " +
      "FROM %s f JOIN %s d ON f.k = d.k GROUP BY f.k %% 1000"
    spark.read.parquet(s"$wh/plain_fact").createOrReplaceTempView("pf")
    spark.read.parquet(s"$wh/plain_dim").createOrReplaceTempView("pd")
    time("shuffled", spark.sql(q.format("pf", "pd")))
    time("spj", spark.sql(q.format("graft_spj.db.fact", "graft_spj.db.dim")))
    for (t <- Seq("db.fact", "db.dim"))
      graft.sources.GraftMaintenance.compactBucketedTable(spark,
        graft.sources.GraftTable.load(spark, "graft_spj", t))
    time("spj-sorted", spark.sql(q.format("graft_spj.db.fact", "graft_spj.db.dim")))

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
    spark.stop()
  }
}
