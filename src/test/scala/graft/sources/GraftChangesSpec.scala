package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** The change-data feed (`graft.db.t.changes` metadata table): row-level
  * insert/delete images derived from the manifest log. Contract under
  * test: (1) folding `state ∖ deletes ∪ inserts` per commit reproduces
  * every table state; (2) append commits contribute EXACT insert images;
  * (3) compaction commits are skipped as multiset-neutral reorganizations
  * — by the change feed AND by the plain append stream source; (4) the
  * feed is streamable with manifest-version offsets.
  */
class GraftChangesSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_cdf_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_cdf", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cdf.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cdf.db")
  }

  private def foldTo(changes: DataFrame, zero: DataFrame): DataFrame = {
    val versions = changes.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).sorted
    versions.foldLeft(zero) { (state, v) =>
      val ofV = changes.where(col("_commit_version") === v)
      state.exceptAll(ofV.where(col("_change_type") === "delete")
          .drop("_change_type", "_commit_version"))
        .unionAll(ofV.where(col("_change_type") === "insert")
          .drop("_change_type", "_commit_version"))
        .localCheckpoint(true)
    }
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The whole feed read with no pushed filter, then bounded on the driver. */
  private def unpushed(table: String, keep: Long => Boolean): Seq[String] =
    spark.table(s"$table.changes").collect()
      .filter(r => keep(r.getAs[Long]("_commit_version")))
      .map(_.toString).toSeq.sorted

  private def changeScan(df: DataFrame): BatchScanExec =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b } match {
      case Seq(b) => b
      case other => fail(s"expected one change scan, got $other")
    }

  /** Every single-bound comparison (`>`, `>=`, `<`, `<=`, `=`) at every
    * version from `from` to `to`, plus a conjunction with non-version
    * predicates, each read pushed and compared with the unpushed feed.
    */
  private def checkBounds(table: String, from: Long, to: Long,
                          other: String): Unit = {
    val ops: Seq[(String, (Long, Long) => Boolean)] = Seq(
      ">" -> (_ > _), ">=" -> (_ >= _), "<" -> (_ < _), "<=" -> (_ <= _),
      "=" -> (_ == _))
    for ((op, holds) <- ops; k <- from to to) {
      val df = spark.table(s"$table.changes").where(s"_commit_version $op $k")
      assert(rowsOf(df) == unpushed(table, holds(_, k)), s"$table: $op $k")
    }
    val mid = (from + to) / 2
    val conj = spark.table(s"$table.changes")
      .where(s"_commit_version >= $mid AND _commit_version <= $to AND $other")
    val otherRows = spark.table(s"$table.changes").where(other).collect()
      .filter { r => val v = r.getAs[Long]("_commit_version"); v >= mid && v <= to }
    assert(rowsOf(conj) == otherRows.map(_.toString).toSeq.sorted, s"$table: $other")
    assert(changeScan(conj).scan.description()
      .contains(s"versions=(${mid - 1},"), changeScan(conj).scan.description())
  }

  test("append commits yield exact insert images; COW rewrites fold to state") {
    sql("""CREATE TABLE graft_cdf.db.t (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_cdf.db.t SELECT id, id * 10 FROM range(0, 100)") // v2
    val afterInsert = spark.table("graft_cdf.db.t.changes")
    // a pure append's images ARE the appended rows, all inserts at v2
    assert(afterInsert.where(col("_change_type") =!= "insert").count() == 0)
    assert(sameRows(
      afterInsert.drop("_change_type", "_commit_version"),
      spark.range(0, 100).selectExpr("id", "id * 10 AS v")))
    assert(afterInsert.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(2L))

    sql("DELETE FROM graft_cdf.db.t WHERE id % 3 = 0") // v3, COW rewrite
    sql("UPDATE graft_cdf.db.t SET v = v + 1 WHERE id % 10 = 1") // v4
    val changes = spark.table("graft_cdf.db.t.changes")
    // COW images are file-granular but must FOLD exactly to the table
    val folded = foldTo(changes, spark.table("graft_cdf.db.t").limit(0))
    assert(sameRows(folded, spark.table("graft_cdf.db.t")))
    // and the delete commit's NET effect is exactly the deleted keys
    val v3 = changes.where(col("_commit_version") === 3)
    val net = v3.where(col("_change_type") === "delete")
      .drop("_change_type", "_commit_version")
      .exceptAll(v3.where(col("_change_type") === "insert")
        .drop("_change_type", "_commit_version"))
    assert(sameRows(net,
      spark.range(0, 100).where(col("id") % 3 === 0)
        .selectExpr("id", "id * 10 AS v")))
  }

  test("compaction commits contribute nothing: change feed AND append tail skip them") {
    sql("""CREATE TABLE graft_cdf.db.c (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_cdf.db.c SELECT id, id FROM range(0, 50)")
    sql("INSERT INTO graft_cdf.db.c SELECT id, id FROM range(50, 100)")
    val dir = s"$warehouse/db/c"
    val (before, after) = GraftMaintenance.compactTable(spark, TestTables.at(dir))
    assert(before > after, s"compaction should fold files ($before -> $after)")
    val vCompact = graft.plans.MatView.currentVersion(spark, dir)
    val changes = spark.table("graft_cdf.db.c.changes")
    assert(changes.where(col("_commit_version") === vCompact).count() == 0,
      "a compact-marked commit must emit zero change images")
    assert(changes.where(col("_change_type") === "delete").count() == 0)
    assert(sameRows(changes.drop("_change_type", "_commit_version"),
      spark.table("graft_cdf.db.c")))

    // the plain append tail consumes BOTH inserts across the compaction
    // without failing and without double-delivery
    val sink = "graft_cdf_skip_sink"
    val q = spark.readStream.table("graft_cdf.db.c")
      .groupBy().agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      sql("INSERT INTO graft_cdf.db.c SELECT id, id FROM range(100, 120)")
      q.processAllAvailable()
    } finally q.stop()
    val r = spark.table(sink).collect().head
    assert(r.getLong(0) == 120L && r.getLong(1) == (0L until 120L).sum,
      s"append tail across a compaction must deliver each row once, got $r")
  }

  test("the commit kind is ATOMIC with the manifest: a compaction whose " +
    "marker file is lost (the old crash window) still skips everywhere") {
    sql("""CREATE TABLE graft_cdf.db.kc (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_cdf.db.kc SELECT id, id FROM range(0, 50)")
    sql("INSERT INTO graft_cdf.db.kc SELECT id, id FROM range(50, 100)")
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/kc")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    GraftMaintenance.compactTable(spark, TestTables.at(dir))
    val vCompact = GraftTable.manifestVersions(fs, dir).last
    // the kind rides the manifest itself: no crash can land the rewrite
    // without it and replay the ENTIRE table as spurious change images
    assert(GraftTable.commitKind(fs, dir, vCompact)
      .contains(GraftTable.KindCompact),
      "the kind must resolve from the manifest's own !kind= meta")
    assert(spark.table("graft_cdf.db.kc.changes")
      .where(col("_commit_version") === vCompact).count() == 0,
      "a marker-less compaction must STILL emit zero change images")
    // the append tail skips it too (no spurious re-delivery, no failure)
    val sink = "graft_cdf_kind_sink"
    val q = spark.readStream.table("graft_cdf.db.kc")
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table(sink).collect().head.getLong(0) == 100L,
      "the marker-less compaction must not re-deliver rows to the tail")
  }

  test("the change feed is streamable: a MERGEd table tails to its own state") {
    sql("""CREATE TABLE graft_cdf.db.m (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    @volatile var state: DataFrame = spark.table("graft_cdf.db.m").limit(0)
    val q = spark.readStream.table("graft_cdf.db.m.changes")
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        state = foldTo(batch, state)
        batch.unpersist()
        ()
      }.start()
    try {
      sql("INSERT INTO graft_cdf.db.m SELECT id, id FROM range(0, 40)")
      q.processAllAvailable()
      sql("""MERGE INTO graft_cdf.db.m t
            |USING (SELECT id, id * 100 AS v FROM range(20, 60)) c
            |ON t.id = c.id
            |WHEN MATCHED THEN UPDATE SET v = c.v
            |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (c.id, c.v)""".stripMargin)
      q.processAllAvailable()
      sql("DELETE FROM graft_cdf.db.m WHERE id % 4 = 2")
      q.processAllAvailable()
    } finally q.stop()
    assert(sameRows(state, spark.table("graft_cdf.db.m")),
      "streamed change images must fold to the table's final state")
    assert(state.count() > 0)
  }

  test("restore commits feed restatement images; vacuum moves the baseline") {
    sql("""CREATE TABLE graft_cdf.db.r (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_cdf.db.r SELECT id, id FROM range(0, 30)") // v2
    sql("UPDATE graft_cdf.db.r SET v = -1 WHERE id < 10") // v3 (the mistake)
    GraftMaintenance.restore(spark, TestTables.at(s"$warehouse/db/r"), 2L) // v4
    val changes = spark.table("graft_cdf.db.r.changes")
    val folded = foldTo(changes, spark.table("graft_cdf.db.r").limit(0))
    assert(sameRows(folded, spark.table("graft_cdf.db.r")),
      "a restore commit's images must restate the rollback")
    assert(sameRows(folded, spark.range(0, 30).selectExpr("id", "id AS v")))

    GraftMaintenance.vacuum(spark, TestTables.at(s"$warehouse/db/r"), keepLast = 1)
    // earliest retained snapshot becomes the baseline: no images remain
    assert(spark.table("graft_cdf.db.r.changes").count() == 0)
    // and the table itself still reads
    assert(spark.table("graft_cdf.db.r").count() == 30)
  }

  test("restore over an upsert commit resurrects unmasked rows as inserts") {
    import spark.implicits._
    sql("""CREATE TABLE graft_cdf.db.ru (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_cdf.db.ru SELECT id, concat('v1-', id) FROM range(0, 20)") // v2
    GraftEqDelete.upsert(spark, "graft_cdf", "db.ru",
      Seq((3L, "v2-3"), (100L, "v2-100")).toDF("k", "v"), Seq("k")) // v3 eqdelta
    GraftMaintenance.restore(spark,
      TestTables.at(s"$warehouse/db/ru"), 2L) // v4 shrinks eq set
    val changes = spark.table("graft_cdf.db.ru.changes")
    // the unmasking must emit an INSERT image for the resurrected row —
    // without it the fold contract silently breaks after the restore
    val v4 = changes.where(col("_commit_version") === 4)
    assert(v4.where(col("_change_type") === "insert" && col("k") === 3)
      .count() == 1,
      "restore over an eq-masked file must resurrect the row as an insert image")
    val folded = foldTo(changes, spark.table("graft_cdf.db.ru").limit(0))
    assert(sameRows(folded, spark.table("graft_cdf.db.ru")),
      "change images across upsert + restore must fold to the table state")
    assert(spark.table("graft_cdf.db.ru").where(col("k") === 3)
      .collect().head.getString(1) == "v1-3")
  }

  test("graft_changes bounds the feed by version, tag or timestamp — one " +
    "at-or-before rule with the time-travel surface") {
    graft.GraftExtensions.register(spark)
    sql("""CREATE TABLE graft_cdf.db.tb (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_cdf.db.tb SELECT id, id FROM range(0, 50)") // v2
    sql("INSERT INTO graft_cdf.db.tb SELECT id, id FROM range(50, 80)") // v3
    sql("DELETE FROM graft_cdf.db.tb WHERE id < 10") // v4
    sql("SELECT * FROM graft_tag('graft_cdf', 'db.tb', 'mid', 2)").collect()
    val byVersion = spark.sql(
      "SELECT * FROM graft_changes('graft_cdf', 'db.tb', 2, 4)")
    // (from, to]: exactly the commits that move state v2 -> v4
    assert(byVersion.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
    // the reference is the UNPUSHED feed, bounded on the driver
    assert(rowsOf(byVersion) == unpushed("graft_cdf.db.tb", v => v > 2 && v <= 4))
    // tag bound = its version; timestamp bounds resolve at-or-before
    val byTag = spark.sql(
      "SELECT * FROM graft_changes('graft_cdf', 'db.tb', 'mid', 4)")
    assert(sameRows(byTag, byVersion))
    val ts = spark.sql(
      """SELECT version, committed_at FROM graft_history('graft_cdf', 'db.tb')
        |WHERE version IN (2, 4)""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byTs = spark.sql(
      s"""SELECT * FROM graft_changes('graft_cdf', 'db.tb',
         |  '${new java.sql.Timestamp(ts(2L))}',
         |  '${new java.sql.Timestamp(ts(4L))}')""".stripMargin)
    assert(sameRows(byTs, byVersion))
    // refusals: inverted bounds, neither-tag-nor-timestamp strings
    intercept[Exception](spark.sql(
      "SELECT * FROM graft_changes('graft_cdf', 'db.tb', 4, 2)").collect())
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_changes('graft_cdf', 'db.tb', 'nope', 4)")
      .collect())
    assert(e.getMessage.contains("neither a tag"), e.getMessage)
  }

  test("changes table resolves only for history tables; schema is base + meta") {
    sql("CREATE TABLE graft_cdf.db.plain (id BIGINT)")
    val e = intercept[Exception](spark.table("graft_cdf.db.plain.changes").collect())
    assert(e.getMessage.toLowerCase.contains("not") ||
      e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
    val sch = spark.table("graft_cdf.db.t.changes").schema
    assert(sch.fieldNames.toSeq == Seq("id", "v", "_change_type", "_commit_version"))
    // column pruning through the feed: a meta-only projection runs
    val counts = spark.table("graft_cdf.db.t.changes")
      .groupBy("_change_type").count().collect()
    assert(counts.nonEmpty)
  }

  test("pushed _commit_version bounds plan only the named commits and " +
    "equal the unpushed feed: COW, MOR, eq-delta and row-lineage tables") {
    import spark.implicits._
    // copy-on-write history table: appends, a DELETE and an UPDATE
    sql("""CREATE TABLE graft_cdf.db.pc (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_cdf.db.pc SELECT id, id FROM range(0, 40)") // v2
    sql("INSERT INTO graft_cdf.db.pc SELECT id, id FROM range(40, 60)") // v3
    sql("DELETE FROM graft_cdf.db.pc WHERE id % 7 = 0") // v4
    sql("UPDATE graft_cdf.db.pc SET v = -v WHERE id < 12") // v5
    checkBounds("graft_cdf.db.pc", 0, 6, "id % 2 = 0 AND _change_type = 'insert'")
    // merge-on-read: the DELETE and UPDATE commits are deletion-vector diffs
    sql("""CREATE TABLE graft_cdf.db.pm (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true', 'merge-on-read'='true')""".stripMargin)
    sql("INSERT INTO graft_cdf.db.pm SELECT id, id FROM range(0, 40)") // v2
    sql("DELETE FROM graft_cdf.db.pm WHERE id % 5 = 0") // v3, DV commit
    sql("UPDATE graft_cdf.db.pm SET v = v + 100 WHERE id % 5 = 1") // v4
    val pmDir = new org.apache.hadoop.fs.Path(s"$warehouse/db/pm")
    val fs = pmDir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(GraftTable.readFullEntries(fs, pmDir, 3L).exists(_.dv.nonEmpty),
      "v3 must be a deletion-vector commit")
    checkBounds("graft_cdf.db.pm", 1, 5, "_change_type = 'delete'")
    // equality-delta upserts: the delete images are the masked keys' rows
    sql("""CREATE TABLE graft_cdf.db.pe (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_cdf.db.pe SELECT id, concat('a', id) FROM range(0, 30)") // v2
    GraftEqDelete.upsert(spark, "graft_cdf", "db.pe",
      Seq((3L, "b3"), (7L, "b7"), (100L, "b100")).toDF("k", "v"), Seq("k")) // v3
    GraftEqDelete.upsert(spark, "graft_cdf", "db.pe",
      Seq((7L, "c7"), (8L, "c8")).toDF("k", "v"), Seq("k")) // v4
    checkBounds("graft_cdf.db.pe", 1, 5, "k < 10")
    // row lineage: the feed carries _row_id through the pushed read
    sql("""CREATE TABLE graft_cdf.db.pr (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true', 'rowid'='true')""".stripMargin)
    sql("INSERT INTO graft_cdf.db.pr SELECT id, id FROM range(0, 30)") // v2
    sql("UPDATE graft_cdf.db.pr SET v = 0 WHERE id < 5") // v3
    sql("DELETE FROM graft_cdf.db.pr WHERE id > 25") // v4
    assert(spark.table("graft_cdf.db.pr.changes").columns.contains("_row_id"))
    checkBounds("graft_cdf.db.pr", 1, 5, "_row_id % 3 = 0")

    // OR stays residual: the scan plans the whole retained log
    val disj = spark.table("graft_cdf.db.pc.changes")
      .where("_commit_version = 2 OR _commit_version = 5")
    assert(rowsOf(disj) == unpushed("graft_cdf.db.pc", v => v == 2 || v == 5))
    assert(changeScan(disj).scan.description().contains("versions=(1,5] commits=4"),
      changeScan(disj).scan.description())
  }

  test("a one-commit window plans exactly that commit's changed files; a " +
    "compaction-only window plans none; EXPLAIN of graft_changes shows it") {
    graft.GraftExtensions.register(spark)
    sql("""CREATE TABLE graft_cdf.db.pw (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    for (i <- 0 until 4) // v2..v5, one file or more each
      sql(s"INSERT INTO graft_cdf.db.pw SELECT id, id FROM range(${i * 25}, ${i * 25 + 25})")
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/pw")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    GraftMaintenance.compactTable(spark, TestTables.at(dir))
    val vc = GraftTable.manifestVersions(fs, dir).last
    assert(vc == 6L && GraftTable.commitKind(fs, dir, vc).contains(GraftTable.KindCompact))

    val one = spark.table("graft_cdf.db.pw.changes").where(col("_commit_version") === 4)
    val added = GraftTable.readFullEntries(fs, dir, 4L).map(_.file).toSet --
      GraftTable.readFullEntries(fs, dir, 3L).map(_.file)
    val planned = changeScan(one).inputPartitions
      .map(_.asInstanceOf[GraftChangePartition])
    assert(planned.map(_.file).toSet == added && planned.size == added.size &&
      planned.forall(_.version == 4L), planned)
    assert(changeScan(one).scan.description().contains(
      s"versions=(3,4] commits=1 partitions=${added.size}"))
    assert(rowsOf(one) == unpushed("graft_cdf.db.pw", _ == 4L))
    // the unbounded feed plans every retained commit
    assert(changeScan(spark.table("graft_cdf.db.pw.changes")).inputPartitions.size >
      planned.size)

    val compactOnly = spark.sql(
      s"SELECT * FROM graft_changes('graft_cdf', 'db.pw', ${vc - 1}, $vc)")
    assert(changeScan(compactOnly).inputPartitions.isEmpty)
    assert(compactOnly.collect().isEmpty)
    val explain = spark.sql(
      s"EXPLAIN SELECT * FROM graft_changes('graft_cdf', 'db.pw', ${vc - 1}, $vc)")
      .collect().head.getString(0)
    assert(explain.contains(s"versions=(${vc - 1},$vc] commits=1 partitions=0"), explain)
    // an empty window plans nothing either
    val empty = spark.table("graft_cdf.db.pw.changes")
      .where("_commit_version > 4 AND _commit_version < 5")
    assert(changeScan(empty).inputPartitions.isEmpty && empty.collect().isEmpty)

    // after a vacuum a window starting before the earliest retained
    // version is clamped to it; the baseline still contributes nothing
    GraftMaintenance.vacuum(spark, TestTables.at(dir), keepLast = 3)
    val kept = GraftTable.manifestVersions(fs, dir)
    assert(kept.head > 2L, kept)
    for (lo <- Seq(0L, 1L, kept.head - 1, kept.head)) {
      val df = spark.table("graft_cdf.db.pw.changes").where(col("_commit_version") > lo)
      assert(rowsOf(df) == unpushed("graft_cdf.db.pw", _ > lo), s"> $lo")
      assert(changeScan(df).scan.description().contains(
        s"versions=(${kept.head},${kept.last}] commits=${kept.size - 1}"),
        changeScan(df).scan.description())
    }
  }

  test("drop and recreate at the same path never serves the old table's " +
    "cached manifest lines") {
    graft.GraftExtensions.register(spark)
    val t = "graft_cdf.db.mc"
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/mc")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    def manifests = GraftTable.manifestVersions(fs, dir)
      .map(v => fs.getFileStatus(GraftTable.manifestPath(dir, v)))
    sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) TBLPROPERTIES('history'='true')")
    sql(s"INSERT INTO $t VALUES (1, 10)")
    // warm the manifest cache through a snapshot read and the change feed
    assert(spark.table(t).collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(spark.sql(s"SELECT id FROM graft_changes('graft_cdf', 'db.mc', 1, 2)")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    val old = manifests
    sql(s"DROP TABLE $t")
    sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) TBLPROPERTIES('history'='true')")
    sql(s"INSERT INTO $t VALUES (2, 20)")
    // same paths, same lengths, and (forced) the same mtimes: the
    // (mtime, length) check alone cannot tell the logs apart
    val now = manifests
    assert(now.map(_.getPath) == old.map(_.getPath))
    assert(now.map(_.getLen) == old.map(_.getLen),
      s"${now.map(_.getLen)} vs ${old.map(_.getLen)}")
    old.foreach(st => fs.setTimes(st.getPath, st.getModificationTime, -1))
    assert(manifests.map(_.getModificationTime) == old.map(_.getModificationTime))
    assert(spark.table(t).collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(spark.sql(s"SELECT id FROM graft_changes('graft_cdf', 'db.mc', 1, 2)")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }
}
