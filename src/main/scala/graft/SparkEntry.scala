package graft

import graft.queries.{DedupQueries, Etl, QualityQueries, Relational, SimilarityQueries, StreamingQueries, TextQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every implemented operator family contributes its `queries` +
  * `oracleSql` entries from graft.queries.*; entries present in `queries`
  * but absent from `oracleSql` (sim_ann_lsh, streaming twins in tests) get
  * the driver's weaker rows-only check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Etl.queries ++ TextQueries.queries ++
      DedupQueries.queries ++ SimilarityQueries.queries ++
      QualityQueries.queries ++ StreamingQueries.queries

  /** The session of the CLI mains (Bench, Verify, Probe, ExplainFinal):
    * `local[SPARK_GRAFT_CPUS]`, else every core of the machine, with the
    * shuffle width equal to the core count, the graft extensions and
    * storage-partitioned joins — so a plan or a timing from any of them is
    * the gate's.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.sorting.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // the 128-aggregate minhash signature row must stay in codegen
      .config("spark.sql.codegen.maxFields", "300")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def oracleSql: Map[String, String] =
    Relational.oracle ++ Etl.oracle ++ TextQueries.oracle ++
      DedupQueries.oracle ++ SimilarityQueries.oracle ++
      QualityQueries.oracle ++ StreamingQueries.oracle
}
