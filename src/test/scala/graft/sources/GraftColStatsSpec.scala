package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Planner COLUMN statistics from the manifest stats log: per-file HLL
  * distinct-count sketches tracked in the writer's hot loop union into
  * table-level NDV estimates served through DSv2 `columnStats()` — an
  * ANALYZE TABLE nobody runs. Conservative refusals: masked rows, files
  * without sketches. `graft_analyze_ndv` backfills; rename re-keys.
  */
class GraftColStatsSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_cstats_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft_cs", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cs.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cs.db")
  }

  private def scanStats(table: String) = {
    val df = spark.table(table)
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[GraftScan].estimateStatistics()
    }
    assert(scans.size == 1)
    scans.head
  }

  private def distinctOf(st: org.apache.spark.sql.connector.read.Statistics,
                         col: String): Option[Long] = {
    import scala.jdk.CollectionConverters._
    st.columnStats().asScala.collectFirst {
      case (ref, cs) if ref.fieldNames().sameElements(Array(col)) &&
        cs.distinctCount().isPresent => cs.distinctCount().getAsLong
    }
  }

  test("writer-tracked sketches union into table-level NDV estimates") {
    sql("CREATE TABLE graft_cs.db.t (id BIGINT, grp BIGINT, s STRING)")
    // two appends with OVERLAPPING key ranges: per-file counts must union,
    // not sum (5000+5000 files share 2500 ids → true NDV 7500)
    spark.range(0, 5000).toDF("id")
      .withColumn("grp", col("id") % 100)
      .withColumn("s", concat(lit("u"), col("id") % 997))
      .writeTo("graft_cs.db.t").append()
    spark.range(2500, 7500).toDF("id")
      .withColumn("grp", col("id") % 100)
      .withColumn("s", concat(lit("u"), col("id") % 997))
      .writeTo("graft_cs.db.t").append()
    val st = scanStats("graft_cs.db.t")
    assert(st.numRows().getAsLong == 10000)
    val idNdv = distinctOf(st, "id").get
    assert(math.abs(idNdv - 7500) <= 7500 / 10,
      s"id NDV estimate $idNdv should be within 10% of 7500 (union, not sum)")
    val grpNdv = distinctOf(st, "grp").get
    assert(math.abs(grpNdv - 100) <= 10, s"grp NDV $grpNdv vs 100")
    val sNdv = distinctOf(st, "s").get
    assert(math.abs(sNdv - 997) <= 100, s"s NDV $sNdv vs 997")
    // null counts are exact sums
    import scala.jdk.CollectionConverters._
    val nulls = st.columnStats().asScala.collectFirst {
      case (ref, cs) if ref.fieldNames().sameElements(Array("id")) =>
        cs.nullCount().getAsLong
    }
    assert(nulls.contains(0L))
  }

  test("CBO sees the estimates as attributeStats on the logical plan") {
    sql("CREATE TABLE graft_cs.db.cbo (k BIGINT, v STRING)")
    spark.range(0, 3000).toDF("k")
      .withColumn("v", concat(lit("x"), col("k") % 50))
      .writeTo("graft_cs.db.cbo").append()
    val prev = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val base = spark.table("graft_cs.db.cbo")
      val stats = base.queryExecution.optimizedPlan.stats
      val vStat = stats.attributeStats.find(_._1.name == "v").map(_._2)
      assert(vStat.exists(_.distinctCount.exists(dc =>
        (dc - BigInt(50)).abs <= 10)),
        s"CBO must see v's distinct count (~50): got ${stats.attributeStats}")
      // ...and USE it: the filter estimation scales row count by the
      // estimated selectivity (3000 rows / ~50 distinct ≈ 60), instead of
      // the no-stats default
      val filtered = base.where(col("v") === "x7")
      val fStats = filtered.queryExecution.optimizedPlan.stats
      assert(fStats.rowCount.exists(rc => rc >= 20 && rc <= 200),
        s"CBO filter estimate should be ~60 rows, got ${fStats.rowCount}")
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)
  }

  test("compaction loses sketches conservatively; graft_analyze_ndv restores") {
    sql("CREATE TABLE graft_cs.db.cp (id BIGINT)")
    spark.range(0, 2000).toDF("id").writeTo("graft_cs.db.cp").append()
    assert(distinctOf(scanStats("graft_cs.db.cp"), "id").nonEmpty)
    GraftMaintenance.compactTable(spark, TestTables.at(s"$warehouse/db/cp"))
    // footer-lifted entries carry no NDV: refuse rather than under-estimate
    assert(distinctOf(scanStats("graft_cs.db.cp"), "id").isEmpty,
      "post-compaction files have no sketches — no estimate beats a wrong one")
    val n = sql("SELECT * FROM graft_analyze_ndv('graft_cs', 'db.cp')")
      .collect()(0).getInt(0)
    assert(n >= 1)
    val restored = distinctOf(scanStats("graft_cs.db.cp"), "id")
    assert(restored.exists(ndv => math.abs(ndv - 2000) <= 200),
      s"backfilled NDV $restored vs 2000")
  }

  test("masked rows serve NDV as a declared OVER-approximation; null " +
    "counts refuse under masks; rename re-keys the sketches") {
    sql("""CREATE TABLE graft_cs.db.m (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true', 'merge-on-read'='true')""".stripMargin)
    spark.range(0, 1000).toDF("id").withColumn("v", col("id"))
      .writeTo("graft_cs.db.m").append()
    assert(distinctOf(scanStats("graft_cs.db.m"), "id").nonEmpty)
    sql("DELETE FROM graft_cs.db.m WHERE id % 10 = 0")
    // an actively-masked table KEEPS planner cardinalities (round 12 —
    // refusing stripped CBO from every actively-upserted table until a
    // fold): the union over-counts masked rows, which is sound for
    // selectivity and broadcast decisions (it can only under-estimate
    // per-value match counts), and here stays within sketch tolerance
    // of the PRE-delete truth
    val masked = distinctOf(scanStats("graft_cs.db.m"), "id")
    assert(masked.exists(x => x >= 900 - 50 && x <= 1000 + 50),
      s"masked NDV must stay live as an over-approximation, got $masked")
    // null counts stay refused under masks: an over-counted nullCount
    // would fabricate IsNotNull row reductions
    val st = scanStats("graft_cs.db.m")
    import scala.jdk.CollectionConverters._
    val idNulls = st.columnStats().asScala.collectFirst {
      case (ref, cs) if ref.fieldNames().sameElements(Array("id")) =>
        cs.nullCount()
    }
    assert(idNulls.exists(!_.isPresent),
      s"null counts must refuse under masks, got $idNulls")
    // CBO still sees a live filter estimate on the masked table (DV
    // masks keep the exact row count; NDV drives the selectivity). The
    // per-value estimate may floor to 0 here — rows/NDV with a unique
    // key — which is the documented safe direction (an over-counted NDV
    // only UNDER-estimates per-value matches); live-and-scaling means
    // DEFINED and below the unfiltered count, not nonzero
    val prev = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val rc = spark.table("graft_cs.db.m").where(col("v") === 7L)
        .queryExecution.optimizedPlan.stats.rowCount
      assert(rc.exists(r => r < 900),
        s"CBO must keep scaling estimates on a masked table, got $rc")
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)

    sql("CREATE TABLE graft_cs.db.rn (a BIGINT)")
    spark.range(0, 500).toDF("a").writeTo("graft_cs.db.rn").append()
    sql("ALTER TABLE graft_cs.db.rn RENAME COLUMN a TO b")
    val ndv = distinctOf(scanStats("graft_cs.db.rn"), "b")
    assert(ndv.exists(x => math.abs(x - 500) <= 50),
      s"rename must re-key the sketch (got $ndv under the new name)")
  }

  test("headEqualityEstimate: rows/NDV from the stats log, metadata-only; " +
    "None when a live file lacks stats or the column has no sketch") {
    sql("""CREATE TABLE graft_cs.db.est (k BIGINT, grp BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 1000).toDF("k")
      .withColumn("grp", col("k") % 10)
      .writeTo("graft_cs.db.est").append()
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/est")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val (rows, perGrp) = GraftStats.headEqualityEstimate(fs, dir, "grp")
      .getOrElse(fail("estimate must be served from the stats log"))
    assert(rows == 1000L)
    assert(perGrp >= 80 && perGrp <= 120,
      s"rows/NDV for a 10-value column over 1000 rows should be ~100, " +
        s"got $perGrp")
    // a unique key estimates to ~1 per value
    val (_, perKey) = GraftStats.headEqualityEstimate(fs, dir, "k").get
    assert(perKey >= 1 && perKey <= 2, s"unique-key estimate: $perKey")
    // conjunctive estimate: rows / (NDV(grp) * NDV(k)) under the
    // independence assumption, floored at 1 — the "tenant = X AND
    // label = Y" vector-store dispatch shape
    val (_, perBoth) = GraftStats
      .headEqualityEstimate(fs, dir, Seq("grp", "k")).get
    assert(perBoth == 1L, s"1000/(10*~1000) must floor to 1, got $perBoth")
    // no sketch for ANY named column -> None, counted fallback (a
    // partial product would claim unearned selectivity)
    assert(GraftStats.headEqualityEstimate(fs, dir, "nope").isEmpty)
    assert(GraftStats.headEqualityEstimate(fs, dir, Seq("grp", "nope")).isEmpty)
    // a live file WITHOUT stats (foreign-registered bytes, simulated by
    // retiring the entry) -> None — a partial union would silently lie
    GraftFileLog.retain(fs, dir, _ => false)
    assert(GraftStats.headEqualityEstimate(fs, dir, "grp").isEmpty,
      "files without stats entries must refuse the estimate")
  }

  test("headRangeEstimate: KLL ranks from the stats log serve BETWEEN / " +
    "> selectivities metadata-only; histogram rides the scan stats") {
    sql("""CREATE TABLE graft_cs.db.rng (k BIGINT, x DOUBLE, s STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    // two files, 0..999 — the merge across files is part of the contract
    spark.range(0, 500).toDF("k")
      .withColumn("x", col("k") * 0.5).withColumn("s", col("k").cast("string"))
      .writeTo("graft_cs.db.rng").append()
    spark.range(500, 1000).toDF("k")
      .withColumn("x", col("k") * 0.5).withColumn("s", col("k").cast("string"))
      .writeTo("graft_cs.db.rng").append()
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/rng")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // k BETWEEN 100 AND 299 -> ~200 of 1000 (±~1.65% rank error each side)
    val (rows, between) = GraftStats.headRangeEstimate(fs, dir, "k",
      Some((100.0, true)), Some((299.0, true)))
      .getOrElse(fail("range estimate must be served from the stats log"))
    assert(rows == 1000L)
    assert(between >= 160 && between <= 240,
      s"[100, 299] over uniform 0..999 should estimate ~200, got $between")
    // k > 900 (exclusive lower) -> ~99
    val (_, above) = GraftStats.headRangeEstimate(fs, dir, "k",
      Some((900.0, false)), None).get
    assert(above >= 60 && above <= 140, s"k > 900 should be ~99, got $above")
    // double column: x < 100.0 -> ~200 (x = k/2)
    val (_, below) = GraftStats.headRangeEstimate(fs, dir, "x",
      None, Some((100.0, false))).get
    assert(below >= 160 && below <= 240, s"x < 100 should be ~200, got $below")
    // an empty selection estimates ~0
    val (_, none) = GraftStats.headRangeEstimate(fs, dir, "k",
      Some((5000.0, false)), None).get
    assert(none <= 40, s"k > 5000 should estimate ~0, got $none")
    // the NUMERIC estimate refuses on a string column (its sketch lives
    // in the separate string slot — see headRangeEstimateStr)
    assert(GraftStats.headRangeEstimate(fs, dir, "s",
      Some((0.0, true)), None).isEmpty)
    // the scan's CBO statistics serve an equi-height histogram cut from
    // the same sketches: 32 bins, height = rows/32, monotone bounds
    val st = scanStats("graft_cs.db.rng")
    val ref = org.apache.spark.sql.connector.expressions.Expressions.column("k")
    val cs = st.columnStats().get(ref)
    assert(cs != null && cs.histogram().isPresent,
      "numeric columns with full sketch coverage must serve a histogram")
    val h = cs.histogram().get()
    assert(h.bins().length == 32)
    assert(math.abs(h.height() - 1000.0 / 32) < 0.01)
    assert(h.bins().forall(b => b.lo() <= b.hi()))
    assert(h.bins().head.lo() == 0.0 && h.bins().last.hi() == 999.0,
      s"histogram must span the data: ${h.bins().head.lo()}..${h.bins().last.hi()}")
    // strings: no histogram
    val csS = st.columnStats().get(
      org.apache.spark.sql.connector.expressions.Expressions.column("s"))
    assert(csS == null || !csS.histogram().isPresent)
  }

  test("range selectivity on STRING and DECIMAL columns (round 13): the " +
    "string twin ranks in UTF8 binary order, decimals ride the doubles " +
    "sketch and serve a histogram") {
    sql("""CREATE TABLE graft_cs.db.rng2 (k BIGINT, s STRING, d DECIMAL(10,2))
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 500).toDF("k")
      .withColumn("s", col("k").cast("string"))
      .withColumn("d", (col("k") / 4).cast("decimal(10,2)"))
      .writeTo("graft_cs.db.rng2").append()
    spark.range(500, 1000).toDF("k")
      .withColumn("s", col("k").cast("string"))
      .withColumn("d", (col("k") / 4).cast("decimal(10,2)"))
      .writeTo("graft_cs.db.rng2").append()
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/rng2")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // s BETWEEN '2' AND '5': decimal-string LEXICOGRAPHIC order — "2",
    // "20".."299" (111), likewise for 3 and 4, plus "5" itself = 334
    val (rows, sBetween) = GraftStats.headRangeEstimateStr(fs, dir, "s",
      Some(("2", true)), Some(("5", true)))
      .getOrElse(fail("string range estimate must be served"))
    assert(rows == 1000L)
    assert(sBetween >= 280 && sBetween <= 390,
      s"s in ['2','5'] lexicographically is 334 exact, got $sBetween")
    // one-sided: s < '1' -> just "0" (1 row, rank error only)
    val (_, sBelow) = GraftStats.headRangeEstimateStr(fs, dir, "s",
      None, Some(("1", false))).get
    assert(sBelow <= 40, s"s < '1' is 1 row exact, got $sBelow")
    // string twin refuses on a numeric column (sketch slots are typed)
    assert(GraftStats.headRangeEstimateStr(fs, dir, "k",
      Some(("0", true)), None).isEmpty)
    // DECIMAL rides the numeric estimate through doubleValue():
    // d < 100.00 (= k < 400) -> ~400 of 1000
    val (_, dBelow) = GraftStats.headRangeEstimate(fs, dir, "d",
      None, Some((100.0, false)))
      .getOrElse(fail("decimal range estimate must be served"))
    assert(dBelow >= 350 && dBelow <= 450,
      s"d < 100.00 is 400 exact, got $dBelow")
    // and the scan's CBO statistics now serve a decimal histogram
    val st = scanStats("graft_cs.db.rng2")
    val csD = st.columnStats().get(
      org.apache.spark.sql.connector.expressions.Expressions.column("d"))
    assert(csD != null && csD.histogram().isPresent,
      "decimal columns with full sketch coverage must serve a histogram")
    val h = csD.histogram().get()
    assert(h.bins().forall(b => b.lo() <= b.hi()))
    assert(math.abs(h.bins().head.lo() - 0.0) < 0.01 &&
      math.abs(h.bins().last.hi() - 249.75) < 0.01,
      s"decimal histogram must span the data: " +
        s"${h.bins().head.lo()}..${h.bins().last.hi()}")
    // compaction loses ALL sketches conservatively; one analyze pass now
    // rebuilds the quantile twins (string items + decimal doubles)
    // alongside the NDVs
    GraftMaintenance.compactTable(spark, TestTables.at(s"$warehouse/db/rng2"))
    assert(GraftStats.headRangeEstimateStr(fs, dir, "s",
      Some(("2", true)), Some(("5", true))).isEmpty,
      "post-compaction files carry no sketches — refuse, don't guess")
    assert(GraftStats.headRangeEstimate(fs, dir, "d",
      None, Some((100.0, false))).isEmpty)
    sql("SELECT * FROM graft_analyze_ndv('graft_cs', 'db.rng2')").collect()
    val (_, sAgain) = GraftStats.headRangeEstimateStr(fs, dir, "s",
      Some(("2", true)), Some(("5", true)))
      .getOrElse(fail("analyze must restore the string quantile sketch"))
    assert(sAgain >= 280 && sAgain <= 390, s"restored string estimate $sAgain")
    val (_, dAgain) = GraftStats.headRangeEstimate(fs, dir, "d",
      None, Some((100.0, false)))
      .getOrElse(fail("analyze must restore the decimal quantile sketch"))
    assert(dAgain >= 350 && dAgain <= 450, s"restored decimal estimate $dAgain")
  }

  test("string sketch items are PREFIX-TRUNCATED: long-text columns cost " +
    "bytes-per-item, not documents-per-item, and prefix-distinct bounds " +
    "still rank") {
    sql("""CREATE TABLE graft_cs.db.txt (id BIGINT, text STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    // 500 multi-KB documents in three prefix classes (a/b/c...)
    spark.range(0, 500).toDF("id")
      .withColumn("text", concat(
        element_at(array(lit("alpha"), lit("beta"), lit("gamma")),
          (pmod(col("id"), lit(3)) + 1).cast("int")),
        lit("-"), col("id").cast("string"), lit("-"),
        expr("repeat('x', 2000)")))
      .writeTo("graft_cs.db.txt").append()
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/txt")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // the retained sketch is truncated items, never whole documents:
    // 500 live rows × 2KB would be ~1MB untruncated; the cap keeps the
    // serialized sketch under a few tens of KB
    val stats = GraftFileLog.stats(fs, dir)
    val sketchBytes = stats.values.flatMap(_.cols.get("text"))
      .flatMap(_.kllStr).map(_.length).sum
    assert(sketchBytes > 0 && sketchBytes < 64 * 1024,
      s"truncated text sketch must stay small, got $sketchBytes bytes")
    // bounds that differ inside the prefix window rank fine: everything
    // below 'beta' is the 'alpha-*' class (~167 of 500)
    val (rows, below) = GraftStats.headRangeEstimateStr(fs, dir, "text",
      None, Some(("beta", false)))
      .getOrElse(fail("long-text column must still serve range estimates"))
    assert(rows == 500L)
    assert(below >= 130 && below <= 200,
      s"text < 'beta' is the alpha class (~167), got $below")
  }
}
