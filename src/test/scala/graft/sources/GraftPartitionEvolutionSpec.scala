package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Time-partition SPEC EVOLUTION: `setTimePartition` re-partitions a
  * table as a metadata-only commit — old files keep their layout (and
  * their pruning, via the past-spec list), new writes route through the
  * new spec, `migrateTimeLayout` is the optional catch-up rewrite, and
  * every ambiguous combination refuses loudly.
  */
class GraftPartitionEvolutionSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_pevo_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)
  private def planned(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions
  private def fsOf(sub: String) = {
    val p = new org.apache.hadoop.fs.Path(s"$warehouse/$sub")
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }
  private def dayDirs(sub: String): Int =
    new java.io.File(s"$warehouse/$sub").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("ts_day="))

  // 30 days of hourly events from a fixed UTC instant
  private val base = 1_700_000_000_000_000L // micros
  private def events(from: Int, until: Int) =
    spark.range(from, until).toDF("id")
      .withColumn("ts", timestamp_micros(lit(base) +
        (col("id") % 720) * lit(3_600_000_000L)))
      .withColumn("v", col("id") * 3)

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft_pevo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_pevo.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_pevo.db")
  }

  private def weekFilter(t: org.apache.spark.sql.DataFrame) = {
    val lo = base + 7L * 86_400_000_000L
    val hi = base + 14L * 86_400_000_000L
    t.where(col("ts") >= timestamp_micros(lit(lo)) &&
      col("ts") < timestamp_micros(lit(hi)))
  }

  test("flat -> days(ts): metadata-only; new files prune, old never lie") {
    sql("CREATE TABLE graft_pevo.db.ev (id BIGINT, ts TIMESTAMP, v BIGINT)")
    events(0, 2000).writeTo("graft_pevo.db.ev").append()   // flat epoch
    val (fs, dir) = fsOf("db/ev")
    val flatFiles = GraftTable.dataFiles(fs, dir).toSet
    sql("SELECT * FROM graft_set_time_partition('graft_pevo', 'db.ev', 'days(ts)')")
      .collect()
    assert(GraftTable.dataFiles(fs, dir).toSet == flatFiles,
      "evolution must not move a byte")
    events(2000, 4000).writeTo("graft_pevo.db.ev").append() // day-routed epoch
    // base is not midnight-aligned: 720 hourly slots span 30 or 31 days
    assert(dayDirs("db/ev") >= 30, "new writes must land in the day layout")
    val t = spark.table("graft_pevo.db.ev")
    assert(t.count() == 4000)
    val wk = weekFilter(t)
    // values exact across both layouts
    assert(wk.count() ==
      (0 until 4000).count(i => (i % 720) >= 168 && (i % 720) < 336))
    // the day-routed epoch prunes: planned ≤ flat files + the ≤8 day
    // dirs a misaligned week can touch
    assert(planned(wk) <= flatFiles.size + 8,
      s"planned ${planned(wk)} of ${GraftTable.dataFiles(fs, dir).size}")

    // catch-up rewrite: everything lands under the current spec
    val (migrated, landed) =
      GraftMaintenance.migrateTimeLayout(spark, TestTables.at(s"$warehouse/db/ev"))
    assert(migrated == flatFiles.size && landed >= 1)
    assert(GraftTable.dataFiles(fs, dir).forall(f =>
      GraftDayPartition.unitOfFile(s"$warehouse/db/ev", f, "ts", "days").nonEmpty))
    val wk2 = weekFilter(spark.table("graft_pevo.db.ev"))
    assert(planned(wk2) <= 8 * 3,
      s"post-migration the week scan plans day dirs only (${planned(wk2)})")
    assert(wk2.count() == wk.count(), "migration must not change a value")
    assert(spark.table("graft_pevo.db.ev").agg(sum("v")).collect()(0).getLong(0) ==
      (0L until 4000L).map(_ * 3).sum)
  }

  test("days -> months: past-spec files keep pruning under their own unit") {
    sql("""CREATE TABLE graft_pevo.db.um (id BIGINT, ts TIMESTAMP, v BIGINT)
          |PARTITIONED BY (days(ts))""".stripMargin)
    events(0, 1000).writeTo("graft_pevo.db.um").append()   // day-laid epoch
    sql("SELECT * FROM graft_set_time_partition('graft_pevo', 'db.um', 'months(ts)')")
      .collect()
    events(1000, 2000).writeTo("graft_pevo.db.um").append() // month-laid epoch
    val (fs, dir) = fsOf("db/um")
    val total = GraftTable.dataFiles(fs, dir).size
    // a one-day filter prunes BOTH layouts: day files by the past spec,
    // month files by the current one
    val lo = base + 3L * 86_400_000_000L
    val day3 = spark.table("graft_pevo.db.um")
      .where(col("ts") >= timestamp_micros(lit(lo)) &&
        col("ts") < timestamp_micros(lit(lo + 86_400_000_000L)))
    assert(planned(day3) < total,
      s"mixed-spec pruning must engage (${planned(day3)} of $total)")
    assert(day3.count() ==
      (0 until 2000).count(i => (i % 720) >= 72 && (i % 720) < 96))
    // the table properties surface the past spec
    val t = spark.sessionState.catalogManager.catalog("graft_pevo")
      .asInstanceOf[GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "um")).asInstanceOf[GraftTable]
    assert(t.pastTimeSpecs == Seq("ts" -> "days"))
  }

  test("days -> none: old day files still prune; new writes land flat") {
    sql("""CREATE TABLE graft_pevo.db.un (id BIGINT, ts TIMESTAMP, v BIGINT)
          |PARTITIONED BY (days(ts))""".stripMargin)
    events(0, 1000).writeTo("graft_pevo.db.un").append()
    sql("SELECT * FROM graft_set_time_partition('graft_pevo', 'db.un', 'none')")
      .collect()
    events(1000, 1500).writeTo("graft_pevo.db.un").append()
    val (fs, dir) = fsOf("db/un")
    val total = GraftTable.dataFiles(fs, dir).size
    val wk = weekFilter(spark.table("graft_pevo.db.un"))
    assert(planned(wk) < total, "past-spec day dirs must still prune")
    assert(wk.count() ==
      (0 until 1500).count(i => (i % 720) >= 168 && (i % 720) < 336))
    assert(spark.table("graft_pevo.db.un").count() == 1500)
  }

  test("history tables: evolution composes with snapshots (compact commit)") {
    sql("""CREATE TABLE graft_pevo.db.h (id BIGINT, ts TIMESTAMP, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    events(0, 800).writeTo("graft_pevo.db.h").append()     // v2, flat
    sql("SELECT * FROM graft_set_time_partition('graft_pevo', 'db.h', 'days(ts)')")
      .collect()
    events(800, 1200).writeTo("graft_pevo.db.h").append()  // v3, day-laid
    GraftMaintenance.migrateTimeLayout(spark,
      TestTables.at(s"$warehouse/db/h")) // v4 compact
    val (fs, dir) = fsOf("db/h")
    val vLast = GraftTable.manifestVersions(fs, dir).last
    assert(GraftTable.commitKind(fs, dir, vLast)
      .contains(GraftTable.KindCompact))
    assert(spark.table("graft_pevo.db.h").count() == 1200)
    // pre-migration snapshots still read their (flat) files
    assert(sql("SELECT count(*) FROM graft_pevo.db.h VERSION AS OF 2")
      .collect()(0).getLong(0) == 800)
    val wk = weekFilter(spark.table("graft_pevo.db.h"))
    assert(wk.count() ==
      (0 until 1200).count(i => (i % 720) >= 168 && (i % 720) < 336))
  }

  test("guards: layout owners, mixed clocks, spec-column DDL all refuse") {
    sql("""CREATE TABLE graft_pevo.db.gb (id BIGINT, ts TIMESTAMP)
          |PARTITIONED BY (bucket(4, id))""".stripMargin)
    intercept[Exception](
      sql("SELECT * FROM graft_set_time_partition('graft_pevo', 'db.gb', 'days(ts)')")
        .collect())

    sql("""CREATE TABLE graft_pevo.db.gc
          |(id BIGINT, ts TIMESTAMP, ts2 TIMESTAMP)""".stripMargin)
    sql("SELECT * FROM graft_set_time_partition('graft_pevo', 'db.gc', 'days(ts)')")
      .collect()
    intercept[Exception](
      sql("SELECT * FROM graft_set_time_partition('graft_pevo', 'db.gc', 'days(ts2)')")
        .collect())
    intercept[Exception](
      sql("SELECT * FROM graft_set_time_partition('graft_pevo', 'db.gc', 'weeks(ts)')")
        .collect())
    // the ACTIVE spec column refuses rename; so does a PAST spec column
    intercept[Exception](
      sql("ALTER TABLE graft_pevo.db.gc RENAME COLUMN ts TO event_ts"))
    sql("SELECT * FROM graft_set_time_partition('graft_pevo', 'db.gc', 'none')")
      .collect()
    intercept[Exception](
      sql("ALTER TABLE graft_pevo.db.gc RENAME COLUMN ts TO event_ts"))
  }
}
