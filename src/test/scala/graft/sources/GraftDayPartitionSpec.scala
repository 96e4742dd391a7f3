package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hidden day partitioning (`PARTITIONED BY (days(ts))`): the raw
  * timestamp stays a normal column, the LAYOUT derives day directories,
  * and predicates on the raw column prune whole days at planning — no
  * phantom partition column anywhere.
  */
class GraftDayPartitionSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_day_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_day", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_day.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_day.db")
    sql("""CREATE TABLE graft_day.db.ev (id BIGINT, ts TIMESTAMP, v BIGINT)
          |PARTITIONED BY (days(ts))""".stripMargin)
    // three days plus a NULL-ts row; includes exact day-boundary instants
    sql("""INSERT INTO graft_day.db.ev VALUES
          |(1, TIMESTAMP '2026-08-01 00:00:00', 10),
          |(2, TIMESTAMP '2026-08-01 23:59:59.999999', 11),
          |(3, TIMESTAMP '2026-08-02 00:00:00', 20),
          |(4, TIMESTAMP '2026-08-02 12:00:00', 21),
          |(5, TIMESTAMP '2026-08-03 08:00:00', 30),
          |(6, NULL, 99)""".stripMargin)
  }

  private def planned(df: DataFrame): Int = df.rdd.getNumPartitions

  test("round trip, raw column in parquet, day directories on disk") {
    assert(sql("SELECT count(*) FROM graft_day.db.ev").collect().head.getLong(0) == 6L)
    val dirs = new java.io.File(s"$warehouse/db/ev").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.count(_.startsWith("ts_day=")) == 4, // 3 days + null dir
      s"expected 4 day dirs, got ${dirs.mkString(",")}")
    // raw ts survives INSIDE the parquet bytes (hidden partitioning, not
    // identity: no column was hoisted out of the data)
    val native = spark.read.parquet(s"$warehouse/db/ev/ts_day=20666")
    assert(native.columns.contains("ts") && native.count() == 2)
  }

  test("predicates on the raw timestamp prune whole day directories") {
    val all = spark.table("graft_day.db.ev").where(col("v") >= 0)
    assert(planned(all) == 4, s"unpruned scan should plan all 4 day dirs")

    val oneDay = spark.table("graft_day.db.ev")
      .where(col("ts") >= lit("2026-08-02 00:00:00").cast("timestamp") &&
        col("ts") < lit("2026-08-03 00:00:00").cast("timestamp"))
    assert(planned(oneDay) == 1, "a one-day range must plan exactly one dir")
    assert(oneDay.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
      == Seq(3L, 4L))

    val fromDay2 = spark.table("graft_day.db.ev")
      .where(col("ts") >= lit("2026-08-02 00:00:00").cast("timestamp"))
    assert(planned(fromDay2) == 2)

    // boundary exactness: the 23:59:59.999999 row is day 1, midnight is day 2
    val ltBoundary = spark.table("graft_day.db.ev")
      .where(col("ts") < lit("2026-08-02 00:00:00").cast("timestamp"))
    assert(planned(ltBoundary) == 1)
    assert(ltBoundary.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 2L))
  }

  test("NULL timestamps route to the null day dir; IS [NOT] NULL prunes") {
    val isNull = spark.table("graft_day.db.ev").where(col("ts").isNull)
    assert(planned(isNull) == 1)
    assert(isNull.select("id").collect().map(_.getLong(0)).toSeq == Seq(6L))
    val notNull = spark.table("graft_day.db.ev").where(col("ts").isNotNull)
    assert(planned(notNull) == 3)
    assert(notNull.count() == 5)
  }

  test("copy-on-write UPDATE keeps the day layout and pruning intact") {
    sql("UPDATE graft_day.db.ev SET v = v + 100 WHERE id = 4")
    val day2 = spark.table("graft_day.db.ev")
      .where(col("ts") >= lit("2026-08-02 00:00:00").cast("timestamp") &&
        col("ts") < lit("2026-08-03 00:00:00").cast("timestamp"))
    assert(planned(day2) == 1, "rewritten rows must land back in their day dir")
    assert(day2.orderBy("id").select("v").collect().map(_.getLong(0)).toSeq
      == Seq(20L, 121L))
  }

  test("days() combines with history snapshots; DATE columns work too") {
    sql("""CREATE TABLE graft_day.db.hist (id BIGINT, d DATE)
          |PARTITIONED BY (days(d))
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("""INSERT INTO graft_day.db.hist VALUES
          |(1, DATE '2026-08-01'), (2, DATE '2026-08-02')""".stripMargin)
    sql("INSERT INTO graft_day.db.hist VALUES (3, DATE '2026-08-03')")
    val eq = spark.table("graft_day.db.hist")
      .where(col("d") === lit("2026-08-02").cast("date"))
    assert(planned(eq) == 1, "DATE equality must prune to one day dir")
    assert(sql("SELECT count(*) FROM graft_day.db.hist VERSION AS OF 2")
      .collect().head.getLong(0) == 2L)
  }

  test("VERSION AS OF keeps hidden-day pruning (pinned loads carry the layout)") {
    sql("""CREATE TABLE graft_day.db.tt (id BIGINT, ts TIMESTAMP)
          |PARTITIONED BY (days(ts))
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("""INSERT INTO graft_day.db.tt VALUES
          |(1, TIMESTAMP '2026-08-01 06:00:00'),
          |(2, TIMESTAMP '2026-08-02 06:00:00'),
          |(3, TIMESTAMP '2026-08-03 06:00:00')""".stripMargin) // v2
    sql("INSERT INTO graft_day.db.tt VALUES (4, TIMESTAMP '2026-08-04 06:00:00')") // v3
    val pinned = sql("SELECT * FROM graft_day.db.tt VERSION AS OF 2")
      .where(col("ts") >= lit("2026-08-02 00:00:00").cast("timestamp") &&
        col("ts") < lit("2026-08-03 00:00:00").cast("timestamp"))
    assert(planned(pinned) == 1,
      "a one-day range over a pinned snapshot must plan exactly one day dir")
    assert(pinned.select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // and the pinned read still excludes the post-snapshot day entirely
    val late = sql("SELECT * FROM graft_day.db.tt VERSION AS OF 2")
      .where(col("ts") >= lit("2026-08-04 00:00:00").cast("timestamp"))
    assert(late.count() == 0)
  }

  test("per-day compaction folds each day to one file, layout and pruning intact") {
    sql("""CREATE TABLE graft_day.db.cmp (id BIGINT, ts TIMESTAMP)
          |PARTITIONED BY (days(ts))""".stripMargin)
    // two writes → two files per day
    for (round <- 0 to 1)
      sql(s"""INSERT INTO graft_day.db.cmp VALUES
             |(${round * 10 + 1}, TIMESTAMP '2026-08-01 01:00:00'),
             |(${round * 10 + 2}, TIMESTAMP '2026-08-02 01:00:00')""".stripMargin)
    val tdir = s"$warehouse/db/cmp"
    // bulk compaction must refuse (it would flatten the layout)
    val e = intercept[IllegalArgumentException](
      GraftMaintenance.compactTable(spark, TestTables.at(tdir)))
    assert(e.getMessage.contains("compactDayTable"))
    val (before, after) = GraftMaintenance.compactDayTable(spark, TestTables.at(tdir))
    assert(before == 4 && after == 2, s"got ($before, $after)")
    val day1 = spark.table("graft_day.db.cmp")
      .where(col("ts") < lit("2026-08-02 00:00:00").cast("timestamp"))
    assert(planned(day1) == 1, "pruning must survive compaction")
    assert(day1.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 11L))
  }

  test("hours() partitions at hour grain and prunes from raw-ts predicates") {
    sql("""CREATE TABLE graft_day.db.hr (id BIGINT, ts TIMESTAMP)
          |PARTITIONED BY (hours(ts))""".stripMargin)
    sql("""INSERT INTO graft_day.db.hr VALUES
          |(1, TIMESTAMP '2026-08-01 00:30:00'),
          |(2, TIMESTAMP '2026-08-01 01:59:59.999999'),
          |(3, TIMESTAMP '2026-08-01 02:00:00'),
          |(4, TIMESTAMP '2026-08-01 03:15:00')""".stripMargin)
    val dirs = new java.io.File(s"$warehouse/db/hr").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("ts_hour=")) == 4)
    val twoHours = spark.table("graft_day.db.hr")
      .where(col("ts") >= lit("2026-08-01 01:00:00").cast("timestamp") &&
        col("ts") < lit("2026-08-01 03:00:00").cast("timestamp"))
    assert(planned(twoHours) == 2, "a two-hour range must plan two hour dirs")
    assert(twoHours.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
      == Seq(2L, 3L))
    // hours over DATE is meaningless and must be rejected
    intercept[Exception](sql(
      """CREATE TABLE graft_day.db.hrbad (id BIGINT, d DATE)
        |PARTITIONED BY (hours(d))""".stripMargin))
  }

  test("months() partitions at calendar-month grain with exact boundaries") {
    sql("""CREATE TABLE graft_day.db.mo (id BIGINT, ts TIMESTAMP)
          |PARTITIONED BY (months(ts))""".stripMargin)
    // straddles a month boundary AND a leap-February
    sql("""INSERT INTO graft_day.db.mo VALUES
          |(1, TIMESTAMP '2028-01-31 23:59:59.999999'),
          |(2, TIMESTAMP '2028-02-01 00:00:00'),
          |(3, TIMESTAMP '2028-02-29 23:59:59.999999'),
          |(4, TIMESTAMP '2028-03-01 00:00:00')""".stripMargin)
    val dirs = new java.io.File(s"$warehouse/db/mo").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("ts_month=")) == 3, dirs.mkString(","))
    val feb = spark.table("graft_day.db.mo")
      .where(col("ts") >= lit("2028-02-01 00:00:00").cast("timestamp") &&
        col("ts") < lit("2028-03-01 00:00:00").cast("timestamp"))
    assert(planned(feb) == 1, "February (leap) must plan exactly one month dir")
    assert(feb.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
      == Seq(2L, 3L))
    // compaction is unit-aware: the clustered write left ONE file per
    // month per insert (3 + 1), and the second Feb file folds away
    sql("INSERT INTO graft_day.db.mo VALUES (5, TIMESTAMP '2028-02-15 12:00:00')")
    val (b, a) = GraftMaintenance.compactDayTable(spark,
      TestTables.at(s"$warehouse/db/mo"))
    assert(b == 4 && a == 3, s"got ($b, $a)")
    assert(planned(spark.table("graft_day.db.mo")
      .where(col("ts") >= lit("2028-02-01 00:00:00").cast("timestamp") &&
        col("ts") < lit("2028-03-01 00:00:00").cast("timestamp"))) == 1)
  }

  test("a day-partitioned history table streams its appends (bronze tail over the layout)") {
    sql("""CREATE TABLE graft_day.db.strm (id BIGINT, ts TIMESTAMP)
          |PARTITIONED BY (days(ts))
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("""INSERT INTO graft_day.db.strm VALUES
          |(1, TIMESTAMP '2026-08-01 01:00:00'),
          |(2, TIMESTAMP '2026-08-02 01:00:00')""".stripMargin)
    val q = spark.readStream.table("graft_day.db.strm")
      .writeStream.format("memory").queryName("graft_day_strm")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_day_strm").count() == 2)
      // appended files live under ts_day=N/ subdirs — the manifest-diff
      // stream must resolve and read them there
      sql("INSERT INTO graft_day.db.strm VALUES (3, TIMESTAMP '2026-08-03 01:00:00')")
      q.processAllAvailable()
      assert(spark.table("graft_day_strm").select("id").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("DESCRIBE TABLE EXTENDED surfaces the layout contract via properties()") {
    val rows = sql("DESCRIBE TABLE EXTENDED graft_day.db.ev").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val props = rows.getOrElse("Table Properties", "")
    assert(props.contains("partition-days-col=ts"),
      s"expected the days transform in table properties, got: $props")
  }

  test("days() rejects unsupported combinations and types") {
    intercept[Exception](sql(
      """CREATE TABLE graft_day.db.bad1 (id BIGINT, ts TIMESTAMP)
        |PARTITIONED BY (days(id))""".stripMargin))
    intercept[Exception](sql(
      """CREATE TABLE graft_day.db.bad2 (id BIGINT, ts TIMESTAMP, g STRING)
        |PARTITIONED BY (g, days(ts))""".stripMargin))
    // merge-on-read now COMPOSES with days() (GraftMorLayoutSpec)
  }
}
