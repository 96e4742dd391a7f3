package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Equality deletes (upsert-by-key): no target scan, no file rewritten,
  * stats-scoped mask references, versioned masks (time travel / restore),
  * precise change images, fold, vacuum expiry, and purge composition.
  */
class GraftEqDeleteSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_eq_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)
  private def dirOf(t: String) = new org.apache.hadoop.fs.Path(s"$warehouse/db/$t")
  private def fsOf(t: String) =
    dirOf(t).getFileSystem(spark.sessionState.newHadoopConf())
  private def entries(t: String) = {
    val fs = fsOf(t); val d = dirOf(t)
    GraftTable.readFullEntries(fs, d, GraftTable.manifestVersions(fs, d).last)
  }
  private def eqFilesOnDisk(t: String): Seq[String] =
    fsOf(t).listStatus(dirOf(t)).toSeq
      .filter(st => st.isFile && GraftEqDelete.isEq(st.getPath.getName))
      .map(_.getPath.getName)

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft_eq", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_eq.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_eq.db")
  }

  import spark.implicits._

  test("upsert: LWW state, zero rewrites, stats-scoped mask references") {
    sql("""CREATE TABLE graft_eq.db.t1 (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_eq.db.t1 SELECT id, concat('old', id) FROM range(0, 100)")
    sql("INSERT INTO graft_eq.db.t1 SELECT id, concat('old', id) FROM range(1000, 1100)")
    val before = entries("t1").map(e =>
      new org.apache.hadoop.fs.Path(e.file).getName ->
        fsOf("t1").getFileStatus(new org.apache.hadoop.fs.Path(e.file))
          .getModificationTime).toMap

    // update keys 1050..1059, insert 5000..5004 — all in the SECOND range
    val changes = spark.range(1050, 1060).toDF("k")
      .union(spark.range(5000, 5005).toDF("k"))
      .withColumn("v", concat(lit("new"), col("k")))
    GraftEqDelete.upsert(spark, "graft_eq", "db.t1", changes, Seq("k"))

    val t = spark.table("graft_eq.db.t1")
    assert(t.count() == 205) // 200 base + 5 inserts (10 updated in place)
    assert(t.where(col("k") === 1055).collect().head.getString(1) == "new1055")
    assert(t.where(col("k") === 5).collect().head.getString(1) == "old5")
    assert(t.where(col("k") === 5002).collect().head.getString(1) == "new5002")
    // no pre-existing file was touched
    before.foreach { case (n, mtime) =>
      val p = entries("t1").find(e =>
        new org.apache.hadoop.fs.Path(e.file).getName == n)
      assert(p.nonEmpty, s"original $n must stay in the manifest")
      assert(fsOf("t1").getFileStatus(
        new org.apache.hadoop.fs.Path(p.get.file)).getModificationTime == mtime,
        s"original $n was rewritten")
    }
    // stats scoping: the changed-key box [1050, 5004] is provably
    // disjoint from the first insert's files (keys < 100) — they carry
    // NO mask reference; second-range files do
    val es = entries("t1")
    val masked = es.filter(_.eqs.nonEmpty)
    val unmasked = es.filter(e => e.eqs.isEmpty &&
      before.contains(new org.apache.hadoop.fs.Path(e.file).getName))
    assert(masked.nonEmpty && unmasked.nonEmpty,
      s"stats scoping must split the pre-existing files: $es")
    assert(eqFilesOnDisk("t1").size == 1)
  }

  test("masks are versioned: time travel resurrects, LWW across upserts") {
    sql("""CREATE TABLE graft_eq.db.t2 (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_eq.db.t2 VALUES (1, 'v1'), (2, 'v1')") // v2
    GraftEqDelete.upsert(spark, "graft_eq", "db.t2",
      Seq((1L, "v2")).toDF("k", "v"), Seq("k"))                   // v3
    GraftEqDelete.upsert(spark, "graft_eq", "db.t2",
      Seq((1L, "v3")).toDF("k", "v"), Seq("k"))                   // v4
    def vOf(q: String) = sql(q).collect().map(_.getString(0)).toSeq
    assert(vOf("SELECT v FROM graft_eq.db.t2 WHERE k = 1") == Seq("v3"))
    assert(vOf("SELECT v FROM graft_eq.db.t2 VERSION AS OF 3 WHERE k = 1") ==
      Seq("v2"), "the middle upsert's state must be addressable")
    assert(vOf("SELECT v FROM graft_eq.db.t2 VERSION AS OF 2 WHERE k = 1") ==
      Seq("v1"), "pre-upsert state must resurrect the masked row")
    assert(spark.table("graft_eq.db.t2").count() == 2)
    // change feed: the upsert commits carry PRECISE delete images
    val ch = sql("""SELECT _commit_version, _change_type, k, v
                   |FROM graft_eq.db.t2.changes ORDER BY 1, 2, 3""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(ch.contains((3L, "delete", 1L, "v1")))
    assert(ch.contains((3L, "insert", 1L, "v2")))
    assert(ch.contains((4L, "delete", 1L, "v2")))
    assert(ch.contains((4L, "insert", 1L, "v3")))
    assert(!ch.exists(c => c._2 == "delete" && c._3 == 2L),
      "the untouched key must produce no delete image")
  }

  test("append tail fails loudly on an eq commit and points at .changes") {
    sql("""CREATE TABLE graft_eq.db.t3 (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_eq.db.t3 VALUES (1, 'a')")
    GraftEqDelete.upsert(spark, "graft_eq", "db.t3",
      Seq((1L, "b")).toDF("k", "v"), Seq("k"))
    val q = spark.readStream.table("graft_eq.db.t3")
      .writeStream.format("memory").queryName("graft_eq_tail").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.contains("changes"),
      s"the error must route users to the change feed: ${e.getMessage}")
  }

  test("fold, vacuum expiry, and purge composition") {
    sql("""CREATE TABLE graft_eq.db.t4 (k BIGINT, email STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_eq.db.t4 SELECT id, concat('u', id, '@x.example') " +
      "FROM range(0, 50)")
    GraftEqDelete.upsert(spark, "graft_eq", "db.t4",
      Seq((7L, "zzsecret@erase.example")).toDF("k", "email"), Seq("k"))
    assert(entries("t4").exists(_.eqs.nonEmpty))
    // fold: masks disappear, state identical, commit kind = compact
    val folded = GraftEqDelete.materializeEqDeletes(spark,
      TestTables.at(s"$warehouse/db/t4"))
    assert(folded >= 1)
    assert(entries("t4").forall(_.eqs.isEmpty))
    assert(spark.table("graft_eq.db.t4").count() == 50)
    assert(spark.table("graft_eq.db.t4").where(col("k") === 7)
      .collect().head.getString(1) == "zzsecret@erase.example")
    // vacuum destroys the now-unreferenced eq sidecar
    GraftMaintenance.vacuum(spark, TestTables.at(s"$warehouse/db/t4"), keepLast = 1)
    assert(eqFilesOnDisk("t4").isEmpty,
      "vacuum must expire unreferenced equality sidecars")
    // purge the secret: raw-byte erasure must extend to KEY bytes
    GraftEqDelete.upsert(spark, "graft_eq", "db.t4",
      Seq((7L, "zzsecret@erase.example")).toDF("k", "email"), Seq("k"))
    val t4 = GraftTable.load(spark, "graft_eq", "db.t4")
    GraftMaintenance.purge(spark, "graft_eq", t4,
      "email = 'zzsecret@erase.example'")
    assert(GraftMaintenance.purgedCompletely(spark, t4,
      "email = 'zzsecret@erase.example'"))
    assert(eqFilesOnDisk("t4").isEmpty,
      "purge must destroy equality sidecars (they hold raw key bytes)")
    def statsBytes = {
      val d = new java.io.File(s"$warehouse/db/t4/${GraftFileLog.Stats.dirName}")
      if (!d.exists) "" else d.listFiles().filter(_.isFile).map(f =>
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .mkString("\n")
    }
    assert(!statsBytes.contains("zzsecret"))
    assert(spark.table("graft_eq.db.t4").count() == 49)
  }

  test("upsert is a first-class write path: CHECK gate, type cast, null keys") {
    sql("""CREATE TABLE graft_eq.db.t6 (k BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true', 'graft.check.v_pos'='v > 0')""".stripMargin)
    sql("INSERT INTO graft_eq.db.t6 VALUES (1, 10), (2, 20)")
    val v0 = GraftTable.manifestVersions(fsOf("t6"), dirOf("t6")).last
    // a violating change set is refused BEFORE anything lands
    intercept[IllegalArgumentException](GraftEqDelete.upsert(spark, "graft_eq",
      "db.t6", Seq((1L, -5L)).toDF("k", "v"), Seq("k")))
    assert(GraftTable.manifestVersions(fsOf("t6"), dirOf("t6")).last == v0,
      "a refused upsert must not commit")
    assert(spark.table("graft_eq.db.t6").where(col("v") < 0).count() == 0)
    // null key values are rejected: fold joins and stats scoping are
    // null-rejecting while the probe matches null==null — don't admit them
    intercept[IllegalArgumentException](GraftEqDelete.upsert(spark, "graft_eq",
      "db.t6", Seq[(java.lang.Long, java.lang.Long)]((null, 5L))
        .toDF("k", "v"), Seq("k")))
    // an INT-typed change set is cast to the table's BIGINT before the
    // sidecar is written, so the read-path probe masks the old version
    GraftEqDelete.upsert(spark, "graft_eq", "db.t6",
      Seq((1, 30)).toDF("k", "v"), Seq("k"))
    assert(spark.table("graft_eq.db.t6").count() == 2)
    assert(spark.table("graft_eq.db.t6").where(col("k") === 1)
      .collect().head.getLong(1) == 30L,
      "cast keys must probe-match the table's physical representation")
  }

  test("upsert composes with VALUE-PARTITIONED tables: change rows land " +
    "in their col=value dirs, masks stay global, the fold keeps layout") {
    sql("""CREATE TABLE graft_eq.db.pt (k BIGINT, v STRING, seg STRING)
          |PARTITIONED BY (seg) TBLPROPERTIES('history'='true')""".stripMargin)
    sql("""INSERT INTO graft_eq.db.pt VALUES
          |(1, 'a', 'x'), (2, 'b', 'x'), (3, 'c', 'y')""".stripMargin)
    // k=2 UPDATES and MOVES partition x -> y; k=10 is a genuine insert
    GraftEqDelete.upsert(spark, "graft_eq", "db.pt",
      Seq((2L, "B", "y"), (10L, "n", "x")).toDF("k", "v", "seg"), Seq("k"))
    val t = spark.table("graft_eq.db.pt")
    assert(t.count() == 4)
    val k2 = t.where(col("k") === 2).collect().head
    assert(k2.getString(1) == "B" && k2.getString(2) == "y",
      "the upserted row must serve its NEW partition value")
    assert(t.where(col("seg") === "x").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 10L),
      "the old partition must not resurrect the moved row")
    // upserted files live under their col=value directories (the layout
    // the table writer produces — pruning and parsePartValues intact)
    val dir = dirOf("pt"); val fs = fsOf("pt")
    def headFiles = GraftTable.readFullEntries(fs, dir,
      GraftTable.manifestVersions(fs, dir).last).map(_.file)
    assert(headFiles.filter(_.contains("part-upsert"))
      .forall(_.contains("seg=")), headFiles.mkString("\n"))
    // partition columns are refused as keys, loudly
    val e = intercept[IllegalArgumentException](GraftEqDelete.upsert(
      spark, "graft_eq", "db.pt",
      Seq((9L, "z", "x")).toDF("k", "v", "seg"), Seq("seg")))
    assert(e.getMessage.contains("PARTITION"), e.getMessage)
    // the fold rewrites masked files IN their partitions and drops masks
    val before = t.orderBy("k").collect().toSeq
    GraftEqDelete.materializeEqDeletes(spark, TestTables.at(dir))
    val after = spark.table("graft_eq.db.pt")
    assert(after.orderBy("k").collect().toSeq == before)
    assert(headFiles.forall(_.contains("seg=")), headFiles.mkString("\n"))
    assert(GraftTable.readFullEntries(fs, dir,
      GraftTable.manifestVersions(fs, dir).last).forall(_.eqs.isEmpty))
  }

  test("upsert composes with days() HIDDEN-TIME tables: change rows land " +
    "in ts_day= dirs, day moves mask globally, the fold keeps layout") {
    sql("""CREATE TABLE graft_eq.db.dt (k BIGINT, ts TIMESTAMP, v STRING)
          |PARTITIONED BY (days(ts)) TBLPROPERTIES('history'='true')""".stripMargin)
    sql("""INSERT INTO graft_eq.db.dt VALUES
          |(1, TIMESTAMP '2026-03-01 08:00:00', 'a'),
          |(2, TIMESTAMP '2026-03-01 09:00:00', 'b'),
          |(3, TIMESTAMP '2026-03-02 10:00:00', 'c')""".stripMargin)
    // k=2 UPDATES and MOVES day 2026-03-01 -> 2026-03-03; k=10 inserts
    GraftEqDelete.upsert(spark, "graft_eq", "db.dt",
      Seq((2L, java.sql.Timestamp.valueOf("2026-03-03 09:00:00"), "B"),
        (10L, java.sql.Timestamp.valueOf("2026-03-02 11:00:00"), "n"))
        .toDF("k", "ts", "v"), Seq("k"))
    val t = spark.table("graft_eq.db.dt")
    assert(t.count() == 4)
    val k2 = t.where(col("k") === 2).collect().head
    assert(k2.getString(2) == "B" &&
      k2.getTimestamp(1) == java.sql.Timestamp.valueOf("2026-03-03 09:00:00"),
      "the upserted row must serve its NEW day")
    assert(t.where(col("ts") < lit("2026-03-02").cast("timestamp"))
      .collect().map(_.getLong(0)).toSeq == Seq(1L),
      "the old day must not resurrect the moved row")
    // upserted files live in the writer's own ts_day=N directories with
    // the SAME unit arithmetic (UTC epoch day — spec-pinned values)
    val dir = dirOf("dt"); val fs = fsOf("dt")
    def headFiles = GraftTable.readFullEntries(fs, dir,
      GraftTable.manifestVersions(fs, dir).last).map(_.file)
    val upserted = headFiles.filter(_.contains("part-upsert"))
    assert(upserted.nonEmpty && upserted.forall(_.contains("ts_day=")),
      headFiles.mkString("\n"))
    val d20260303 = java.time.LocalDate.of(2026, 3, 3).toEpochDay
    assert(upserted.exists(_.contains(s"ts_day=$d20260303/")),
      s"the moved row must land in its new day dir ($d20260303): $upserted")
    // day pruning sees upserted files like appended ones: a one-day scan
    // plans only that day's files
    val oneDay = spark.table("graft_eq.db.dt")
      .where(col("ts") >= lit("2026-03-03").cast("timestamp") &&
        col("ts") < lit("2026-03-04").cast("timestamp"))
    val scan = oneDay.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.head
    val plannedFiles = scan.toBatch.planInputPartitions().toSeq.collect {
      case p: GraftFilePartition => p.file
    }
    assert(plannedFiles.nonEmpty &&
      plannedFiles.forall(_.contains(s"ts_day=$d20260303/")),
      s"pruning must plan only the probed day: $plannedFiles")
    // the time column is NOT refused as a key (raw values live in row
    // bytes, unlike value-partition columns whose values are path-only)
    GraftEqDelete.upsert(spark, "graft_eq", "db.dt",
      Seq((java.sql.Timestamp.valueOf("2026-03-02 10:00:00"), 3L, "c2"))
        .toDF("ts", "k", "v"), Seq("k", "ts"))
    assert(spark.table("graft_eq.db.dt").where(col("k") === 3)
      .collect().head.getString(2) == "c2")
    // the fold rewrites masked files IN their day dirs and drops masks
    val before = spark.table("graft_eq.db.dt").orderBy("k").collect().toSeq
    GraftEqDelete.materializeEqDeletes(spark, TestTables.at(dir))
    assert(spark.table("graft_eq.db.dt").orderBy("k").collect().toSeq == before)
    assert(headFiles.forall(_.contains("ts_day=")), headFiles.mkString("\n"))
    assert(GraftTable.readFullEntries(fs, dir,
      GraftTable.manifestVersions(fs, dir).last).forall(_.eqs.isEmpty))
  }

  test("upsert composes with BUCKET layouts: upserted files claim exactly " +
    "the bucket their rows hash to, masks stay global") {
    sql("""CREATE TABLE graft_eq.db.bk (k BIGINT, v STRING)
          |PARTITIONED BY (bucket(4, k))
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_eq.db.bk SELECT id, concat('old', id) FROM range(0, 50)")
    GraftEqDelete.upsert(spark, "graft_eq", "db.bk",
      Seq((7L, "NEW7"), (100L, "n100")).toDF("k", "v"), Seq("k"))
    val t = spark.table("graft_eq.db.bk")
    assert(t.count() == 51)
    assert(t.where(col("k") === 7).collect().head.getString(1) == "NEW7")
    assert(t.where(col("k") === 100).collect().head.getString(1) == "n100")
    // every upserted file carries a bucket-prefixed NAME, and every row
    // inside hashes to exactly that bucket — the invariant
    // storage-partitioned joins plan on
    val dir = dirOf("bk"); val fs = fsOf("bk")
    // bucket-scoped masking (round 13): the eq reference lands ONLY on
    // files whose bucket some change key hashes to — other buckets'
    // files provably hold no matching rows and stay reference-free
    val lt = org.apache.spark.sql.types.LongType
    val touched = Set(7L, 100L).map(GraftBucket.bucket(lt, _, 4))
    GraftTable.readFullEntries(fs, dir,
      GraftTable.manifestVersions(fs, dir).last).foreach { e =>
      val n = new org.apache.hadoop.fs.Path(e.file).getName
      GraftBucket.fileBucketId(n).foreach { b =>
        if (!touched.contains(b))
          assert(e.eqs.isEmpty,
            s"$n claims untouched bucket $b yet carries an eq reference")
      }
    }
    val upserted = GraftTable.readFullEntries(fs, dir,
      GraftTable.manifestVersions(fs, dir).last)
      .map(_.file).filter(_.contains("part-upsert"))
    assert(upserted.nonEmpty)
    upserted.foreach { f =>
      val name = new org.apache.hadoop.fs.Path(f).getName
      val claimed = GraftBucket.fileBucketId(name)
      assert(claimed.nonEmpty, s"upserted file $name must claim a bucket")
      val wrong = spark.read.parquet(f).collect().count { r =>
        GraftBucket.bucket(org.apache.spark.sql.types.LongType,
          r.getLong(r.fieldIndex("k")), 4) != claimed.get
      }
      assert(wrong == 0, s"$name holds $wrong rows outside its bucket")
    }
    // the fold keeps bucket-claimed names (rewrites prepend the source
    // name) and drops masks
    val before = t.orderBy("k").collect().toSeq
    GraftEqDelete.materializeEqDeletes(spark, TestTables.at(dir))
    assert(spark.table("graft_eq.db.bk").orderBy("k").collect().toSeq
      == before)
    GraftTable.readFullEntries(fs, dir,
      GraftTable.manifestVersions(fs, dir).last).foreach { e =>
      assert(e.eqs.isEmpty)
      assert(GraftBucket.fileBucketId(
        new org.apache.hadoop.fs.Path(e.file).getName).nonEmpty,
        s"post-fold file ${e.file} lost its bucket claim")
    }
  }

  test("day-scoped masking: when the TIME column is a key, eq references " +
      "land only on the change set's day dirs (stats boxes span " +
      "min..max; the unit SET skips every day between)") {
    sql("""CREATE TABLE graft_eq.db.dts (k BIGINT, ts TIMESTAMP, v STRING)
          |PARTITIONED BY (days(ts)) TBLPROPERTIES('history'='true')""".stripMargin)
    sql("""INSERT INTO graft_eq.db.dts VALUES
          |(1, TIMESTAMP '2026-03-01 08:00:00', 'a'),
          |(2, TIMESTAMP '2026-03-02 09:00:00', 'b'),
          |(3, TIMESTAMP '2026-03-05 10:00:00', 'c')""".stripMargin)
    // keys (k, ts) touching ONLY day 03-02: days 03-01 and 03-05 must
    // stay reference-free even though the (k, ts) stats box [2..2]x
    // [03-02..03-02]... — make the box WIDE on k so only the day set
    // can skip: keys 1 and 3 with day-2 timestamps
    GraftEqDelete.upsert(spark, "graft_eq", "db.dts",
      Seq((2L, java.sql.Timestamp.valueOf("2026-03-02 09:00:00"), "B"),
        (9L, java.sql.Timestamp.valueOf("2026-03-02 23:00:00"), "n"))
        .toDF("k", "ts", "v"), Seq("k", "ts"))
    val dir = dirOf("dts"); val fs = fsOf("dts")
    val day2 = java.time.LocalDate.of(2026, 3, 2).toEpochDay
    GraftTable.readFullEntries(fs, dir,
      GraftTable.manifestVersions(fs, dir).last).foreach { e =>
      if (!e.file.contains(s"ts_day=$day2/"))
        assert(e.eqs.isEmpty,
          s"${e.file} is outside the change set's day yet carries a " +
            "reference")
    }
    // the masked day still serves the update; other days untouched
    val t = spark.table("graft_eq.db.dts")
    assert(t.count() == 4)
    assert(t.where(col("k") === 2).collect().head.getString(2) == "B")
    assert(t.where(col("k") === 1).collect().head.getString(2) == "a")
  }

  test("upsert composes days() WITH row lineage: the carry scan runs " +
    "over the day layout, reinserts keep ids, mints stay above the line") {
    graft.GraftExtensions.register(spark)
    sql("""CREATE TABLE graft_eq.db.dtr (k BIGINT, ts TIMESTAMP, v STRING)
          |PARTITIONED BY (days(ts))
          |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin)
    sql("""INSERT INTO graft_eq.db.dtr VALUES
          |(1, TIMESTAMP '2026-04-01 08:00:00', 'a'),
          |(2, TIMESTAMP '2026-04-01 09:00:00', 'b'),
          |(3, TIMESTAMP '2026-04-02 10:00:00', 'c')""".stripMargin)
    val idsBefore = spark.table("graft_eq.db.dtr")
      .select(col("k"), col(GraftRowId.Col))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // k=2 UPDATES and MOVES a day; k=10 is a genuine insert
    GraftEqDelete.upsert(spark, "graft_eq", "db.dtr",
      Seq((2L, java.sql.Timestamp.valueOf("2026-04-03 09:00:00"), "B"),
        (10L, java.sql.Timestamp.valueOf("2026-04-02 11:00:00"), "n"))
        .toDF("k", "ts", "v"), Seq("k"))
    val after = spark.table("graft_eq.db.dtr")
      .select(col("k"), col(GraftRowId.Col))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.size == 4 && after.values.toSeq.distinct.size == 4,
      s"ids must stay unique: $after")
    assert(after(2L) == idsBefore(2L),
      "the day-moved reinsert must CARRY the masked row's _row_id")
    assert(after(1L) == idsBefore(1L) && after(3L) == idsBefore(3L))
    assert(after(10L) > idsBefore.values.max,
      "the genuine insert must mint ABOVE the pre-upsert watermark")
    // the moved row's bytes live in the NEW day dir (lineage + layout)
    val fs = fsOf("dtr"); val dir = dirOf("dtr")
    val d = java.time.LocalDate.of(2026, 4, 3).toEpochDay
    val moved = GraftTable.readFullEntries(fs, dir,
      GraftTable.manifestVersions(fs, dir).last)
      .map(_.file).filter(_.contains(s"ts_day=$d/"))
    assert(moved.nonEmpty, "the moved row must land in its new day dir")
  }

  test("upsert composes with PARTITION EVOLUTION: pre-spec flat files " +
    "gain masks, change rows land under the CURRENT day layout") {
    graft.GraftExtensions.register(spark)
    sql("""CREATE TABLE graft_eq.db.ev (k BIGINT, ts TIMESTAMP, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("""INSERT INTO graft_eq.db.ev VALUES
          |(1, TIMESTAMP '2026-05-01 08:00:00', 'a'),
          |(2, TIMESTAMP '2026-05-02 09:00:00', 'b')""".stripMargin)
    // evolve flat -> days(ts): old files stay segment-less
    sql("SELECT * FROM graft_set_time_partition('graft_eq', 'db.ev', " +
      "'days(ts)')").collect()
    GraftEqDelete.upsert(spark, "graft_eq", "db.ev",
      Seq((2L, java.sql.Timestamp.valueOf("2026-05-02 09:00:00"), "B"),
        (9L, java.sql.Timestamp.valueOf("2026-05-03 10:00:00"), "n"))
        .toDF("k", "ts", "v"), Seq("k"))
    val t = spark.table("graft_eq.db.ev")
    assert(t.count() == 3)
    assert(t.where(col("k") === 2).collect().head.getString(2) == "B")
    val fs = fsOf("ev"); val dir = dirOf("ev")
    val head = GraftTable.readFullEntries(fs, dir,
      GraftTable.manifestVersions(fs, dir).last)
    // upserted files carry day segments (current spec); pre-spec files
    // stay flat and masked (stats may skip the provably-disjoint one)
    val upserted = head.map(_.file).filter(_.contains("part-upsert"))
    assert(upserted.nonEmpty && upserted.forall(_.contains("ts_day=")),
      upserted.mkString("\n"))
    assert(head.exists(e => !e.file.contains("ts_day=") && e.eqs.nonEmpty),
      s"a pre-spec flat file holding a changed key must carry the mask: $head")
  }

  test("rejections: non-history, duplicate keys; empty change set is a no-op") {
    sql("CREATE TABLE graft_eq.db.plain (k BIGINT, v STRING)")
    intercept[Exception](GraftEqDelete.upsert(spark, "graft_eq", "db.plain",
      Seq((1L, "x")).toDF("k", "v"), Seq("k")))
    sql("""CREATE TABLE graft_eq.db.t5 (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_eq.db.t5 VALUES (1, 'a')")
    intercept[Exception](GraftEqDelete.upsert(spark, "graft_eq", "db.t5",
      Seq((1L, "x"), (1L, "y")).toDF("k", "v"), Seq("k")))
    // empty change set: zero commits, zero masks, head version returned
    val fs = fsOf("t5"); val dir = dirOf("t5")
    val v0 = GraftTable.manifestVersions(fs, dir).last
    val r = GraftEqDelete.upsert(spark, "graft_eq", "db.t5",
      Seq.empty[(Long, String)].toDF("k", "v"), Seq("k"))
    assert(r == v0, "an empty upsert must return the head, not commit")
    assert(GraftTable.manifestVersions(fs, dir).last == v0)
    assert(GraftTable.readFullEntries(fs, dir, v0).forall(_.eqs.isEmpty),
      "an empty upsert must hang no mask references")
  }

  test("upsert RETRIES over a racing APPEND winner (re-derived, both " +
      "land, result = sequential replay); non-additive winners refuse") {
    sql("""CREATE TABLE graft_eq.db.race (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin)
    sql("INSERT INTO graft_eq.db.race SELECT id, concat('old', id) FROM range(0, 50)")
    val fs = fsOf("race"); val dir = dirOf("race")
    val v0 = GraftTable.manifestVersions(fs, dir).last
    // a pure APPEND lands INSIDE the upsert's optimistic window (between
    // staging and the exclusive create) — the only deterministic
    // interleaving; it also mints row ids, so the retry must re-derive
    // the watermark or fresh keys would collide
    GraftTable.interposeOnce(dir)(
      sql("INSERT INTO graft_eq.db.race SELECT id, concat('app', id) FROM range(100, 120)"))
    val changes = spark.range(10, 20).toDF("k")
      .union(spark.range(200, 205).toDF("k"))
      .withColumn("v", concat(lit("new"), col("k")))
    val committed = GraftEqDelete.upsert(spark, "graft_eq", "db.race",
      changes, Seq("k"))
    // the append took v0+1; the re-derived upsert landed at v0+2
    assert(committed == v0 + 2, s"expected v0+2=${v0 + 2}, got $committed")
    assert(GraftTable.commitKind(fs, dir, v0 + 1)
      .contains(GraftTable.KindAppend))
    assert(GraftTable.commitKind(fs, dir, v0 + 2)
      .contains(GraftTable.KindEqDelta))
    assert(!GraftTable.interposePending(dir), "the racing append must fire")
    val t = spark.table("graft_eq.db.race")
    // sequential replay: 50 base + 20 appended + 5 fresh inserts
    assert(t.count() == 75, s"got ${t.count()}")
    assert(t.where(col("k") === 15).collect().head.getString(1) == "new15")
    assert(t.where(col("k") === 110).collect().head.getString(1) == "app110")
    assert(t.where(col("k") === 202).collect().head.getString(1) == "new202")
    // lineage: ids stayed unique across the race (the retry re-read the
    // append's advanced watermark before minting)
    val uniq = sql("""SELECT COUNT(*) AS n, COUNT(DISTINCT _row_id) AS d
                    |FROM graft_eq.db.race""".stripMargin).collect()(0)
    assert(uniq.getLong(0) == uniq.getLong(1),
      s"ids must stay unique across the raced retry: $uniq")
    // the lost attempt's landed files were retracted: every table file is
    // referenced by the head manifest
    val head = GraftTable.manifestVersions(fs, dir).last
    val referenced = GraftTable.readFullEntries(fs, dir, head)
      .map(e => new org.apache.hadoop.fs.Path(e.file).getName).toSet
    val onDisk = fs.listStatus(dir).filter(st => st.isFile &&
      st.getPath.getName.endsWith(".parquet")).map(_.getPath.getName)
    val orphans = onDisk.filterNot { n =>
      referenced.contains(n) || GraftTable.manifestVersions(fs, dir)
        .exists(v => GraftTable.readFullEntries(fs, dir, v)
          .exists(e => new org.apache.hadoop.fs.Path(e.file).getName == n))
    }
    assert(orphans.isEmpty,
      s"the lost attempt must retract its landed files, found $orphans")
    // a NON-additive winner (a racing upsert) keeps the loud refusal
    // (the hook is dropped before it runs: the inner upsert runs clean)
    GraftTable.interposeOnce(dir)(
      GraftEqDelete.upsert(spark, "graft_eq", "db.race",
        Seq((300L, "x")).toDF("k", "v"), Seq("k")))
    val e = intercept[IllegalStateException] {
      GraftEqDelete.upsert(spark, "graft_eq", "db.race",
        Seq((301L, "y")).toDF("k", "v"), Seq("k"))
    }
    assert(e.getMessage.contains("non-additive"),
      s"a racing eqdelta winner must refuse loudly: ${e.getMessage}")
  }

  /** Upsert keys 10..19 and 50..59 of an 80-row table written in two
    * inserts, run `compact` and assert it kept exactly the visible rows
    * and left no mask reference behind.
    */
  private def assertCompactionKeepsUpserts(t: String, ts: Boolean)(
      compact: GraftTable => Unit): Unit = {
    val tsCol =
      if (ts) ", timestamp'2024-03-01 00:00:00' + " +
        "make_interval(0, 0, 0, CAST(id % 2 AS INT), 0, 0, 0) AS ts"
      else ""
    Seq((0, 40), (40, 80)).foreach { case (a, b) =>
      sql(s"INSERT INTO graft_eq.db.$t SELECT id AS k$tsCol, " +
        s"concat('old', id) AS v FROM range($a, $b)")
    }
    GraftEqDelete.upsert(spark, "graft_eq", s"db.$t",
      sql(s"SELECT id AS k$tsCol, concat('new', id) AS v FROM range(10, 20) " +
        s"UNION ALL SELECT id AS k$tsCol, concat('new', id) AS v FROM range(50, 60)"),
      Seq("k"))
    def visible = spark.table(s"graft_eq.db.$t").select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val before = visible
    assert(before.size == 80 && before(15) == "new15" && before(55) == "new55")
    compact(TestTables.at(dirOf(t)))
    val after = spark.table(s"graft_eq.db.$t").count()
    assert(after == 80, s"compaction must not resurrect masked rows: $after rows")
    assert(visible == before)
    assert(entries(t).forall(_.eqs.isEmpty),
      "the compaction folds every equality mask")
  }

  test("day compaction folds equality masks first: no masked row returns") {
    sql("""CREATE TABLE graft_eq.db.eqday (k BIGINT, ts TIMESTAMP, v STRING)
          |PARTITIONED BY (days(ts)) TBLPROPERTIES('history'='true')""".stripMargin)
    assertCompactionKeepsUpserts("eqday", ts = true)(
      GraftMaintenance.compactDayTable(spark, _))
  }

  test("bucketed compaction folds equality masks first: no masked row returns") {
    sql("""CREATE TABLE graft_eq.db.eqbkt (k BIGINT, v STRING)
          |PARTITIONED BY (bucket(4, k)) TBLPROPERTIES('history'='true')""".stripMargin)
    assertCompactionKeepsUpserts("eqbkt", ts = false)(
      GraftMaintenance.compactBucketedTable(spark, _))
  }

  test("upsert composes with RENAME/WIDEN history: upsert on the renamed " +
      "key probes pre-evolution files through alias + up-conversion") {
    sql("""CREATE TABLE graft_eq.db.evo1 (k INT, v STRING)
          |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin)
    sql("INSERT INTO graft_eq.db.evo1 SELECT CAST(id AS INT), concat('old', id) FROM range(0, 100)")
    sql("ALTER TABLE graft_eq.db.evo1 RENAME COLUMN k TO key2")
    sql("ALTER TABLE graft_eq.db.evo1 ALTER COLUMN key2 TYPE BIGINT")
    val fs = fsOf("evo1"); val dir = dirOf("evo1")
    val preFiles = GraftTable.readFullEntries(fs, dir,
      GraftTable.manifestVersions(fs, dir).last).map(_.file).toSet
    val v1 = GraftTable.manifestVersions(fs, dir).last
    // update keys 40..49 (pre-evolution bytes live under 'k' as INT32),
    // insert a beyond-int key — the widened epoch
    val changes = spark.range(40, 50).toDF("key2")
      .union(Seq(5000000000L).toDF("key2"))
      .withColumn("v", concat(lit("new"), col("key2")))
    GraftEqDelete.upsert(spark, "graft_eq", "db.evo1", changes, Seq("key2"))
    val t = spark.table("graft_eq.db.evo1")
    assert(t.count() == 101)
    assert(t.where(col("key2") === 45).collect().head.getString(1) == "new45",
      "pre-rename INT32 rows must be masked by the current-name sidecar")
    assert(t.where(col("key2") === 5).collect().head.getString(1) == "old5")
    assert(t.where(col("key2") === 5000000000L).count() == 1,
      "the beyond-int insert must land at the widened type")
    // no pre-evolution file was rewritten — the upsert stays O(change-set)
    val nowFiles = GraftTable.readFullEntries(fs, dir,
      GraftTable.manifestVersions(fs, dir).last).map(_.file).toSet
    assert(preFiles.subsetOf(nowFiles), "upsert must not rewrite old files")
    // lineage carried: the updated keys keep their ids
    val reId = spark.sql(
      s"""SELECT COUNT(*) FROM
         |  (SELECT key2, _row_id FROM graft_eq.db.evo1 VERSION AS OF $v1) b
         |  JOIN graft_eq.db.evo1 a ON a.key2 = b.key2 AND a._row_id <> b._row_id
         |""".stripMargin).collect()(0).getLong(0)
    assert(reId == 0L, "upserted rows on an evolved table must carry _row_id")
    // time travel to the pre-upsert snapshot resurrects the old versions
    assert(spark.sql(s"SELECT v FROM graft_eq.db.evo1 VERSION AS OF $v1 " +
      "WHERE key2 = 45").collect().head.getString(0) == "old45")
  }

  test("upsert composes with RENAME/WIDEN history the INVERSE way: a " +
      "sidecar written BEFORE the rename keeps masking after it") {
    sql("""CREATE TABLE graft_eq.db.evo2 (k INT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_eq.db.evo2 SELECT CAST(id AS INT), concat('old', id) FROM range(0, 100)")
    val changes = spark.range(10, 20).toDF("k")
      .withColumn("v", concat(lit("new"), col("k")))
    GraftEqDelete.upsert(spark, "graft_eq", "db.evo2", changes, Seq("k"))
    // the sidecar now stores name 'k' at INT32; rename + widen AFTER it
    sql("ALTER TABLE graft_eq.db.evo2 RENAME COLUMN k TO id")
    sql("ALTER TABLE graft_eq.db.evo2 ALTER COLUMN id TYPE BIGINT")
    val t = spark.table("graft_eq.db.evo2")
    assert(t.count() == 100)
    assert(t.where(col("id") === 15).collect().head.getString(1) == "new15",
      "the pre-rename sidecar must resolve through the alias chain")
    assert(t.where(col("id") === 95).collect().head.getString(1) == "old95")
    // the changes feed still serves the upsert's delete images, under
    // CURRENT names (matchEqs probes resolve like skipEqs)
    val fs = fsOf("evo2"); val dir = dirOf("evo2")
    val vHead = GraftTable.manifestVersions(fs, dir).last
    val dels = spark.sql(
      s"""SELECT id FROM graft_changes('graft_eq', 'db.evo2', 0, $vHead)
         |WHERE _change_type = 'delete'""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert(dels == (10L until 20L).toSet,
      s"delete images must be the masked keys under the current name, got $dels")
    // fold on the evolved table: anti-join compares like-for-like and
    // lands CURRENT-schema files (name 'id', INT64)
    assert(GraftEqDelete.materializeEqDeletes(spark, TestTables.at(dir)) > 0)
    val head = entries("evo2")
    assert(head.forall(_.eqs.isEmpty), "fold must clear every mask reference")
    // REWRITTEN files land at the current schema (name 'id', INT64);
    // stats-skipped files never carried the mask and legitimately keep
    // their old-epoch bytes — the alias read path serves them
    val folded = head.map(_.file).filter(_.contains("-eqm"))
    assert(folded.nonEmpty, "the fold must have rewritten the masked files")
    folded.foreach { f =>
      val sch = spark.read.parquet(f).schema
      assert(sch.fieldNames.contains("id") && !sch.fieldNames.contains("k"),
        s"folded file $f must land at the current schema")
      assert(sch("id").dataType == org.apache.spark.sql.types.LongType)
    }
    val t2 = spark.table("graft_eq.db.evo2")
    assert(t2.count() == 100)
    assert(t2.where(col("id") === 15).collect().head.getString(1) == "new15")
    assert(t2.where(col("id") === 95).collect().head.getString(1) == "old95")
  }

  test("skew-aware staging: a heavy routing unit salts across tasks " +
      "(per-file rows bounded), buckets stay key-sorted, small change " +
      "sets keep the single-file plan") {
    val bound = 25L
    // BUCKET layout: 2 buckets, a 200-row change set -> ~100 rows per
    // bucket, span ceil(100/25)=4 -> several files per bucket, each one
    // staging task's slice
    sql("""CREATE TABLE graft_eq.db.skb (k BIGINT, v STRING)
          |PARTITIONED BY (bucket(2, k))
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_eq.db.skb SELECT id, concat('old', id) FROM range(0, 50)")
    spark.conf.set(GraftEqDelete.StageMaxTaskRowsKey, bound.toString)
    try {
      GraftEqDelete.upsert(spark, "graft_eq", "db.skb",
        spark.range(0, 200).toDF("k")
          .withColumn("v", concat(lit("new"), col("k"))), Seq("k"))
      val dir = dirOf("skb"); val fs = fsOf("skb")
      val upserted = GraftTable.readFullEntries(fs, dir,
        GraftTable.manifestVersions(fs, dir).last)
        .map(_.file).filter(_.contains("part-upsert"))
      val byBucket = upserted.groupBy(f => GraftBucket.fileBucketId(
        new org.apache.hadoop.fs.Path(f).getName).get)
      assert(byBucket.exists(_._2.size > 1),
        s"a heavy bucket must split across several staged files: $byBucket")
      upserted.foreach { f =>
        val rows = spark.read.parquet(f).select("k").collect().map(_.getLong(0))
        // the worst staging task is O(bound) — 3x slack for hash spread
        assert(rows.length <= 3 * bound,
          s"$f carries ${rows.length} rows; staging task bound was $bound")
        assert(rows.toSeq == rows.toSeq.sorted,
          s"salted bucket file $f must stay key-sorted within itself")
        val claimed = GraftBucket.fileBucketId(
          new org.apache.hadoop.fs.Path(f).getName).get
        assert(rows.forall(k => GraftBucket.bucket(
          org.apache.spark.sql.types.LongType, k, 2) == claimed),
          s"$f holds rows outside its claimed bucket")
      }
      val t = spark.table("graft_eq.db.skb")
      assert(t.count() == 200)
      assert(t.where(col("k") === 7).collect().head.getString(1) == "new7")
      assert(t.where(col("k") === 150).collect().head.getString(1) == "new150")

      // DAY layout: all 200 change rows in ONE day -> that day dir gains
      // several bounded files instead of one giant task's output
      sql("""CREATE TABLE graft_eq.db.skd (k BIGINT, ts TIMESTAMP, v STRING)
            |PARTITIONED BY (days(ts))
            |TBLPROPERTIES('history'='true')""".stripMargin)
      sql("""INSERT INTO graft_eq.db.skd
            |SELECT id, timestamp'2024-03-01 12:00:00', concat('old', id)
            |FROM range(0, 20)""".stripMargin)
      GraftEqDelete.upsert(spark, "graft_eq", "db.skd",
        spark.range(0, 200).toDF("k")
          .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-03-01 09:30:00")))
          .withColumn("v", concat(lit("new"), col("k"))), Seq("k"))
      val dird = dirOf("skd"); val fsd = fsOf("skd")
      val upsertedD = GraftTable.readFullEntries(fsd, dird,
        GraftTable.manifestVersions(fsd, dird).last)
        .map(_.file).filter(_.contains("part-upsert"))
      assert(upsertedD.size > 1,
        s"the heavy day must split across several files: $upsertedD")
      assert(upsertedD.forall(_.contains("ts_day=")),
        s"salted day files must land in their day dir: $upsertedD")
      upsertedD.foreach { f =>
        val n = spark.read.parquet(f).count()
        assert(n <= 3 * bound, s"$f carries $n rows; bound was $bound")
      }
      val td = spark.table("graft_eq.db.skd")
      assert(td.count() == 200)
      assert(td.where(col("k") === 5).collect().head.getString(2) == "new5")
    } finally spark.conf.unset(GraftEqDelete.StageMaxTaskRowsKey)
    // below the threshold the plan is untouched: a small bucket upsert
    // stays one file per touched bucket
    GraftEqDelete.upsert(spark, "graft_eq", "db.skb",
      Seq((7L, "AGAIN7")).toDF("k", "v"), Seq("k"))
    val dir = dirOf("skb"); val fs = fsOf("skb")
    val head = GraftTable.manifestVersions(fs, dir).last
    val lastUpsert = GraftTable.readFullEntries(fs, dir, head)
      .map(_.file).filter(_.contains("part-upsert"))
      .filterNot(f => GraftTable.readFullEntries(fs, dir, head - 1)
        .exists(_.file == f))
    assert(lastUpsert.size == 1,
      s"an unsalted single-bucket upsert lands exactly one file: $lastUpsert")
  }
}
