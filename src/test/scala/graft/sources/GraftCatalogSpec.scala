package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.Row

/** The lakehouse front door: CREATE/INSERT/SELECT on the graft catalog,
  * then the row-level verbs (DELETE / UPDATE / MERGE INTO) with the
  * copy-on-write contract asserted at the FILE level — affected files are
  * replaced, untouched files keep their exact paths (runtime group
  * filtering pruned them out of the rewrite).
  */
class GraftCatalogSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_cat_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_test", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_test.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_test.db")
  }

  private def listFiles(table: String): Seq[String] = {
    val dir = new java.io.File(s"$warehouse/db/$table")
    dir.listFiles().toSeq.map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
      .sorted
  }

  test("create / insert / select round trip, parquet interop, metadata column") {
    sql("CREATE TABLE graft_test.db.t1 (id BIGINT, name STRING, score DOUBLE)")
    sql("INSERT INTO graft_test.db.t1 VALUES (1, 'a', 1.5), (2, 'b', NULL), (3, NULL, 3.25)")
    val got = sql("SELECT id, name, score FROM graft_test.db.t1 ORDER BY id").collect()
    assert(got.toSeq == Seq(Row(1L, "a", 1.5), Row(2L, "b", null), Row(3L, null, 3.25)))

    // the table dir is PLAIN parquet: Spark's native reader sees the same rows
    val native = spark.read.parquet(s"$warehouse/db/t1")
      .orderBy("id").collect()
    assert(native.toSeq == got.toSeq)

    // _file metadata column resolves and points at a real data file
    val files = sql("SELECT DISTINCT _file FROM graft_test.db.t1").collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.endsWith(".parquet")))
  }

  test("DELETE rewrites only the files holding matching rows") {
    sql("CREATE TABLE graft_test.db.t2 (id BIGINT, v STRING)")
    // two separate inserts → two part files, disjoint id ranges
    sql("INSERT INTO graft_test.db.t2 SELECT id, concat('lo', id) FROM range(0, 50, 1, 1)")
    sql("INSERT INTO graft_test.db.t2 SELECT id, concat('hi', id) FROM range(100, 150, 1, 1)")
    val before = listFiles("t2")
    assert(before.size == 2, s"expected 2 part files, got $before")
    val loFile = sql("SELECT DISTINCT _file FROM graft_test.db.t2 WHERE id < 50")
      .collect().map(_.getString(0))
    assert(loFile.length == 1)

    sql("DELETE FROM graft_test.db.t2 WHERE id = 7")

    assert(sql("SELECT count(*) FROM graft_test.db.t2").head().getLong(0) == 99)
    assert(sql("SELECT count(*) FROM graft_test.db.t2 WHERE id = 7").head().getLong(0) == 0)
    val after = listFiles("t2")
    // the hi file survived with its exact name; the lo file was replaced
    val untouched = before.toSet.intersect(after.toSet)
    val loName = new java.io.File(new java.net.URI(loFile.head).getPath).getName
    assert(!after.contains(loName), "affected file must be rewritten")
    assert(untouched.size == 1 && !untouched.contains(loName),
      s"untouched file must keep its path: before=$before after=$after")
  }

  test("UPDATE applies assignments to matching rows only") {
    sql("CREATE TABLE graft_test.db.t3 (id BIGINT, status STRING, amt DOUBLE)")
    sql("INSERT INTO graft_test.db.t3 VALUES (1, 'new', 10.0), (2, 'new', 20.0), (3, 'done', 30.0)")
    sql("UPDATE graft_test.db.t3 SET status = 'done', amt = amt * 2 WHERE id <= 2")
    val got = sql("SELECT id, status, amt FROM graft_test.db.t3 ORDER BY id").collect()
    assert(got.toSeq == Seq(
      Row(1L, "done", 20.0), Row(2L, "done", 40.0), Row(3L, "done", 30.0)))
  }

  test("MERGE INTO: matched update, matched delete, not-matched insert") {
    import spark.implicits._
    sql("CREATE TABLE graft_test.db.tgt (id BIGINT, v STRING, amt BIGINT)")
    sql("INSERT INTO graft_test.db.tgt VALUES (1, 'keep', 10), (2, 'upd', 20), (3, 'del', 30)")
    Seq((2L, "updated", 200L), (3L, "whatever", 0L), (4L, "inserted", 40L))
      .toDF("id", "v", "amt").createOrReplaceTempView("changes")

    sql("""MERGE INTO graft_test.db.tgt t USING changes c ON t.id = c.id
          |WHEN MATCHED AND c.v = 'whatever' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = c.v, amt = c.amt
          |WHEN NOT MATCHED THEN INSERT (id, v, amt) VALUES (c.id, c.v, c.amt)
          |""".stripMargin)

    val got = sql("SELECT id, v, amt FROM graft_test.db.tgt ORDER BY id").collect()
    assert(got.toSeq == Seq(
      Row(1L, "keep", 10L), Row(2L, "updated", 200L), Row(4L, "inserted", 40L)))
  }

  test("MERGE INTO leaves unaffected files untouched (runtime group filtering)") {
    sql("CREATE TABLE graft_test.db.tgt2 (id BIGINT, v BIGINT)")
    sql("INSERT INTO graft_test.db.tgt2 SELECT id, id * 10 FROM range(0, 50, 1, 1)")
    sql("INSERT INTO graft_test.db.tgt2 SELECT id, id * 10 FROM range(100, 150, 1, 1)")
    val before = listFiles("tgt2")
    assert(before.size == 2)

    spark.range(5).selectExpr("id", "id * 1000 AS v").createOrReplaceTempView("changes2")
    sql("""MERGE INTO graft_test.db.tgt2 t USING changes2 c ON t.id = c.id
          |WHEN MATCHED THEN UPDATE SET v = c.v
          |""".stripMargin)

    assert(sql("SELECT sum(CASE WHEN v = id * 1000 THEN 1 ELSE 0 END) FROM graft_test.db.tgt2 WHERE id < 5")
      .head().getLong(0) == 5)
    assert(sql("SELECT count(*) FROM graft_test.db.tgt2").head().getLong(0) == 100)
    val after = listFiles("tgt2")
    assert(before.toSet.intersect(after.toSet).size == 1,
      s"exactly the unaffected file survives: before=$before after=$after")
  }

  test("compactTable collapses small files in place; row-level ops still work") {
    sql("CREATE TABLE graft_test.db.t5 (id BIGINT, v BIGINT)")
    (0 until 5).foreach { i =>
      sql(s"INSERT INTO graft_test.db.t5 SELECT id, id FROM range(${i * 10}, ${i * 10 + 10}, 1, 1)")
    }
    assert(listFiles("t5").size == 5)
    val (before, after) = GraftMaintenance.compactTable(
      spark, TestTables.at(s"$warehouse/db/t5"), targetBytes = 1L << 30)
    assert(before == 5 && after == 1, s"$before -> $after")
    assert(listFiles("t5").size == 1)
    assert(sql("SELECT count(*), sum(id) FROM graft_test.db.t5").head().toSeq
      == Seq(50L, (0 until 50).map(_.toLong).sum))
    // the compacted table still takes row-level commands
    sql("DELETE FROM graft_test.db.t5 WHERE id % 2 = 1")
    assert(sql("SELECT count(*) FROM graft_test.db.t5").head().getLong(0) == 25)
  }

  test("history table: snapshot commits, VERSION AS OF, vacuum") {
    sql("""CREATE TABLE graft_test.db.h (id BIGINT, v STRING)
          |TBLPROPERTIES ('history'='true')""".stripMargin)
    sql("INSERT INTO graft_test.db.h SELECT id, concat('a', id) FROM range(0, 10, 1, 1)")
    sql("INSERT INTO graft_test.db.h SELECT id, concat('b', id) FROM range(10, 20, 1, 1)")
    sql("DELETE FROM graft_test.db.h WHERE id < 5")
    // current = v4 (v1 empty, v2 +10, v3 +20, v4 delete)
    assert(sql("SELECT count(*) FROM graft_test.db.h").head().getLong(0) == 15)
    assert(sql("SELECT count(*) FROM graft_test.db.h VERSION AS OF 1").head().getLong(0) == 0)
    assert(sql("SELECT count(*) FROM graft_test.db.h VERSION AS OF 2").head().getLong(0) == 10)
    assert(sql("SELECT count(*) FROM graft_test.db.h VERSION AS OF 3").head().getLong(0) == 20)
    // the pre-delete rows are still READABLE at v3 even though v4 dropped
    // them — copy-on-write kept the replaced file for the old snapshot
    assert(sql("SELECT count(*) FROM graft_test.db.h VERSION AS OF 3 WHERE id < 5")
      .head().getLong(0) == 5)
    // a write against a pinned version is rejected
    intercept[Exception] {
      sql("DELETE FROM graft_test.db.h VERSION AS OF 2 WHERE id = 1")
    }
    // vacuum to the latest snapshot: old manifests + unreferenced files go
    val dirF = new java.io.File(s"$warehouse/db/h")
    def manifests() = dirF.listFiles().count(_.getName.startsWith("_graft_manifest_"))
    assert(manifests() == 4)
    val (mGone, fGone) = GraftMaintenance.vacuum(spark,
      TestTables.at(s"$warehouse/db/h"), keepLast = 1)
    assert(mGone == 3 && fGone >= 1, s"$mGone manifests, $fGone files")
    assert(manifests() == 1)
    // current snapshot unaffected; expired version now errors
    assert(sql("SELECT count(*) FROM graft_test.db.h").head().getLong(0) == 15)
    intercept[Exception] {
      sql("SELECT count(*) FROM graft_test.db.h VERSION AS OF 2").collect()
    }
  }

  test("pushed filters skip whole files at planning (no task per pruned file)") {
    sql("CREATE TABLE graft_test.db.skip (id BIGINT, v STRING)")
    for ((a, b) <- Seq((0, 10), (10, 20), (20, 30)))
      sql(s"INSERT INTO graft_test.db.skip SELECT id, concat('v', id) FROM range($a, $b, 1, 1)")
    assert(listFiles("skip").size == 3)
    // selective predicate: two of three files are stats-pruned before any
    // task launches — the scan plans ONE partition, not three
    val q = spark.sql("SELECT id, v FROM graft_test.db.skip WHERE id = 15")
    assert(q.rdd.getNumPartitions == 1, s"got ${q.rdd.getNumPartitions} partitions")
    assert(q.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((15L, "v15")))
    // no filter → all files plan
    assert(spark.table("graft_test.db.skip").rdd.getNumPartitions == 3)
    // values stay exact across a range predicate spanning two files
    val r2 = spark.sql("SELECT count(*) FROM graft_test.db.skip WHERE id BETWEEN 5 AND 24")
    assert(r2.head().getLong(0) == 20)
  }

  test("z-order compaction prunes files on BOTH dims at planning") {
    sql("CREATE TABLE graft_test.db.zc (a BIGINT, b BIGINT, v STRING)")
    // 64x64 grid, a and b independent — a linear sort on a would leave b
    // unprunable (every file spans all of b)
    sql("""INSERT INTO graft_test.db.zc
          |SELECT id DIV 64, id % 64, concat('v', id) FROM range(0, 4096, 1, 1)""".stripMargin)
    val dir = s"$warehouse/db/zc"
    val total = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(_.length()).sum
    val (_, nAfter) = GraftMaintenance.compactTable(spark, TestTables.at(dir),
      targetBytes = math.max(1L, total / 16), zorderCols = Seq("a", "b"))
    assert(nAfter >= 8, s"expected a multi-file z-layout, got $nAfter files")
    def planned(pred: String): Int =
      spark.sql(s"SELECT a, b FROM graft_test.db.zc WHERE $pred").rdd.getNumPartitions
    val pa = planned("a = 3")
    val pb = planned("b = 7")
    // Morton layout: a point predicate on EITHER dim intersects only the
    // curve blocks crossing that row/column — a strict subset of files
    assert(pa <= nAfter / 2, s"a=3 planned $pa of $nAfter files")
    assert(pb <= nAfter / 2, s"b=7 planned $pb of $nAfter files")
    // values intact
    assert(spark.sql("SELECT count(*) FROM graft_test.db.zc WHERE a = 3").head().getLong(0) == 64)
    assert(spark.sql("SELECT count(*) FROM graft_test.db.zc WHERE b = 7").head().getLong(0) == 64)
  }

  test("history table streams its appends; rewrites fail the stream loudly") {
    sql("""CREATE TABLE graft_test.db.strm (id BIGINT, v STRING)
          |TBLPROPERTIES ('history'='true')""".stripMargin)
    sql("INSERT INTO graft_test.db.strm SELECT id, concat('a', id) FROM range(0, 5, 1, 1)")
    val q = spark.readStream.table("graft_test.db.strm")
      .writeStream.format("memory").queryName("graft_strm_sink")
      .start()
    try {
      q.processAllAvailable()
      // batch 1: the full snapshot since creation
      assert(spark.table("graft_strm_sink").count() == 5)
      // a new commit streams incrementally — only the appended rows
      sql("INSERT INTO graft_test.db.strm SELECT id, concat('b', id) FROM range(10, 13, 1, 1)")
      q.processAllAvailable()
      val got = spark.table("graft_strm_sink").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == ((0L until 5L).map(i => (i, s"a$i")) ++
        (10L until 13L).map(i => (i, s"b$i"))).toSet)
      // a copy-on-write rewrite breaks the append-only contract: the
      // stream must fail loudly, never silently double-count
      sql("UPDATE graft_test.db.strm SET v = 'x' WHERE id = 0")
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(ex.getMessage.contains("append") || ex.getCause.getMessage.contains("append"),
        s"expected append-only violation, got: ${ex.getMessage}")
    } finally q.stop()
    // non-history tables advertise no streaming capability
    sql("CREATE TABLE graft_test.db.nostrm (id BIGINT)")
    intercept[Exception] {
      spark.readStream.table("graft_test.db.nostrm").writeStream
        .format("memory").queryName("graft_nostrm_sink").start().processAllAvailable()
    }
  }

  test("streaming upsert batch: MERGE applies once, replay is a marker no-op") {
    import spark.implicits._
    sql("CREATE TABLE graft_test.db.su (id BIGINT, v STRING)")
    sql("INSERT INTO graft_test.db.su SELECT id, concat('a', id) FROM range(0, 10, 1, 1)")
    val b0 = Seq(
      (5L, "x5", 1L, "U"), (5L, "ignored", 0L, "U"), // in-batch latest wins
      (100L, "new", 2L, "U"), (3L, "", 3L, "D"))
      .toDF("id", "v", "seq", "op")
    val dir = s"$warehouse/db/su"
    assert(graft.streaming.StreamOps.catalogUpsertBatch(
      b0, 0L, "graft_test.db.su", dir, "id", "seq", "op"))
    def state() = sql("SELECT id, v FROM graft_test.db.su ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val after0 = state()
    assert(after0.contains((5L, "x5")) && after0.contains((100L, "new"))
      && !after0.exists(_._1 == 3L), s"$after0")
    // replayed batch id: skipped entirely — same state, ZERO file churn
    val filesBefore = listFiles("su")
    assert(!graft.streaming.StreamOps.catalogUpsertBatch(
      b0, 0L, "graft_test.db.su", dir, "id", "seq", "op"))
    assert(state() == after0 && listFiles("su") == filesBefore)
    // the next batch id applies normally
    val b1 = Seq((5L, "y5", 4L, "U")).toDF("id", "v", "seq", "op")
    assert(graft.streaming.StreamOps.catalogUpsertBatch(
      b1, 1L, "graft_test.db.su", dir, "id", "seq", "op"))
    assert(state().contains((5L, "y5")))
  }

  test("restore rolls back by committing, rewrites nothing, keeps audit trail") {
    sql("""CREATE TABLE graft_test.db.rb (id BIGINT, v STRING)
          |TBLPROPERTIES ('history'='true')""".stripMargin)
    sql("INSERT INTO graft_test.db.rb SELECT id, concat('a', id) FROM range(0, 10, 1, 1)")
    val dataFilesBefore = listFiles("rb")
    sql("UPDATE graft_test.db.rb SET v = 'BAD' WHERE id < 7")
    assert(sql("SELECT count(*) FROM graft_test.db.rb WHERE v = 'BAD'")
      .head().getLong(0) == 7)
    // roll back to the pre-update snapshot (v1 create, v2 insert, v3 bad)
    val newV = GraftMaintenance.restore(spark, TestTables.at(s"$warehouse/db/rb"), 2L)
    assert(newV == 4L)
    // live table is the restored state...
    assert(sql("SELECT count(*) FROM graft_test.db.rb WHERE v = 'BAD'")
      .head().getLong(0) == 0)
    assert(sql("SELECT v FROM graft_test.db.rb WHERE id = 3").head().getString(0) == "a3")
    // ...the restore wrote ZERO data files (manifest-only commit): every
    // file of the restored snapshot is one of v2's original files
    val dirF = new java.io.File(s"$warehouse/db/rb")
    val v4Files = GraftTable.readManifest(
      org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration()),
      new org.apache.hadoop.fs.Path(dirF.getAbsolutePath), 4L)
      .map(f => new org.apache.hadoop.fs.Path(f).getName).sorted
    assert(v4Files.nonEmpty && v4Files.forall(dataFilesBefore.contains),
      s"restore must re-point at v2's files, got $v4Files vs $dataFilesBefore")
    // the mistaken version stays queryable for audit
    assert(sql("SELECT count(*) FROM graft_test.db.rb VERSION AS OF 3 WHERE v = 'BAD'")
      .head().getLong(0) == 7)
    // unknown version / non-history table fail loudly
    intercept[IllegalArgumentException] {
      GraftMaintenance.restore(spark, TestTables.at(s"$warehouse/db/rb"), 99L)
    }
  }

  test("TIMESTAMP AS OF resolves to the latest snapshot at-or-before t") {
    sql("""CREATE TABLE graft_test.db.h3 (id BIGINT)
          |TBLPROPERTIES ('history'='true')""".stripMargin)
    sql("INSERT INTO graft_test.db.h3 VALUES (1)")
    Thread.sleep(1100) // mtime granularity: commits land in distinct seconds
    sql("INSERT INTO graft_test.db.h3 VALUES (2)")
    // a timestamp between the two commits sees only the first insert
    val m2 = new java.io.File(s"$warehouse/db/h3/_graft_manifest_00000002.txt")
    val m3 = new java.io.File(s"$warehouse/db/h3/_graft_manifest_00000003.txt")
    assert(m2.exists() && m3.exists())
    val mid = (m2.lastModified() + m3.lastModified()) / 2
    val midTs = new java.sql.Timestamp(mid)
    assert(sql(s"SELECT count(*) FROM graft_test.db.h3 TIMESTAMP AS OF '$midTs'")
      .head().getLong(0) == 1)
    assert(sql(s"SELECT count(*) FROM graft_test.db.h3 TIMESTAMP AS OF '${new java.sql.Timestamp(m3.lastModified() + 1000)}'")
      .head().getLong(0) == 2)
    intercept[Exception] { // before the first commit: no snapshot
      sql("SELECT * FROM graft_test.db.h3 TIMESTAMP AS OF '1999-01-01 00:00:00'").collect()
    }
  }

  test("graft_history TVF lists the snapshot log from SQL") {
    graft.GraftExtensions.register(spark)
    sql("""CREATE TABLE graft_test.db.hlog (id BIGINT)
          |TBLPROPERTIES ('history'='true')""".stripMargin)
    sql("INSERT INTO graft_test.db.hlog VALUES (1), (2)")
    sql("INSERT INTO graft_test.db.hlog VALUES (3)")
    val rows = sql("SELECT version, n_files FROM graft_history('graft_test', 'db.hlog') ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // one snapshot per commit; file counts grow with each append (the
    // per-insert part-file count is a parallelism detail)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L), rows.toSeq)
    assert(rows(0)._2 == 0L && rows(1)._2 > 0L && rows(2)._2 > rows(1)._2, rows.toSeq)
  }

  test("history table MERGE keeps past snapshots intact") {
    import spark.implicits._
    sql("""CREATE TABLE graft_test.db.h2 (id BIGINT, amt BIGINT)
          |TBLPROPERTIES ('history'='true')""".stripMargin)
    sql("INSERT INTO graft_test.db.h2 SELECT id, id * 10 FROM range(0, 20, 1, 1)")
    Seq((1L, 999L), (50L, 500L)).toDF("id", "amt").createOrReplaceTempView("hchg")
    sql("""MERGE INTO graft_test.db.h2 t USING hchg c ON t.id = c.id
          |WHEN MATCHED THEN UPDATE SET amt = c.amt
          |WHEN NOT MATCHED THEN INSERT (id, amt) VALUES (c.id, c.amt)
          |""".stripMargin)
    assert(sql("SELECT amt FROM graft_test.db.h2 WHERE id = 1").head().getLong(0) == 999L)
    assert(sql("SELECT count(*) FROM graft_test.db.h2").head().getLong(0) == 21)
    // the pre-merge snapshot still answers with the original values
    assert(sql("SELECT amt FROM graft_test.db.h2 VERSION AS OF 2 WHERE id = 1")
      .head().getLong(0) == 10L)
    assert(sql("SELECT count(*) FROM graft_test.db.h2 VERSION AS OF 2").head().getLong(0) == 20)
  }

  test("ALTER TABLE ADD/DROP COLUMN is metadata-only; old files NULL-fill") {
    sql("CREATE TABLE graft_test.db.ev (id BIGINT, v STRING)")
    sql("INSERT INTO graft_test.db.ev VALUES (1, 'a'), (2, 'b')")
    val filesBefore = listFiles("ev")
    sql("ALTER TABLE graft_test.db.ev ADD COLUMN score DOUBLE")
    // existing parquet files untouched — evolution is a schema-file write
    assert(listFiles("ev") == filesBefore)
    sql("INSERT INTO graft_test.db.ev VALUES (3, 'c', 1.5)")
    val got = sql("SELECT id, v, score FROM graft_test.db.ev ORDER BY id").collect()
    assert(got.toSeq == Seq(Row(1L, "a", null), Row(2L, "b", null), Row(3L, "c", 1.5)))
    // the new column participates in row-level commands immediately
    sql("UPDATE graft_test.db.ev SET score = 0.0 WHERE score IS NULL")
    assert(sql("SELECT count(*) FROM graft_test.db.ev WHERE score IS NULL")
      .head().getLong(0) == 0)
    sql("ALTER TABLE graft_test.db.ev DROP COLUMN v")
    assert(sql("SELECT * FROM graft_test.db.ev").columns.toSeq == Seq("id", "score"))
    // rename is a name-mapping commit (GraftEvolution): old files keep
    // serving the column's bytes under the new name, no NULL-fill
    sql("ALTER TABLE graft_test.db.ev RENAME COLUMN score TO s2")
    assert(sql("SELECT * FROM graft_test.db.ev").columns.toSeq == Seq("id", "s2"))
    assert(sql("SELECT count(*) FROM graft_test.db.ev WHERE s2 IS NULL")
      .head().getLong(0) == 0)
    // ...but a DROPPED column's name is retired for good: old files still
    // hold bytes under 'v', so a reborn 'v' would resurrect them
    intercept[Exception] {
      sql("ALTER TABLE graft_test.db.ev ADD COLUMN v STRING")
    }
  }

  test("small catalog tables broadcast in joins (file-size statistics)") {
    sql("CREATE TABLE graft_test.db.dim (k BIGINT, label STRING)")
    sql("INSERT INTO graft_test.db.dim SELECT id, concat('l', id) FROM range(0, 100, 1, 1)")
    val joined = spark.range(0, 100000).toDF("k")
      .join(spark.table("graft_test.db.dim"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"dim-sized graft table should broadcast:\n$plan")
  }

  test("filters reach the parquet reader (pushed + residual, values exact)") {
    sql("CREATE TABLE graft_test.db.pf (id BIGINT, grp STRING, x DOUBLE)")
    sql("""INSERT INTO graft_test.db.pf
          |SELECT id, CASE WHEN id < 500 THEN 'lo' ELSE 'hi' END, id * 0.5
          |FROM range(0, 1000, 1, 1)""".stripMargin)
    val q = sql("SELECT id, x FROM graft_test.db.pf WHERE id >= 990 AND grp = 'hi'")
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains("PushedFilters") && desc.contains("990"),
      s"pushed filters must show in the scan description:\n$desc")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (990L until 1000L))
    // filter on a column the projection drops still evaluates correctly
    assert(sql("SELECT count(*) FROM graft_test.db.pf WHERE grp = 'lo'")
      .head().getLong(0) == 500)
  }

  test("clustered compaction yields range-disjoint files (stats-prunable)") {
    sql("CREATE TABLE graft_test.db.cc (id BIGINT, v BIGINT)")
    // interleaved inserts: every pre-compaction file spans the whole id
    // domain, so min/max stats prune nothing
    (0 until 4).foreach { k =>
      sql(s"INSERT INTO graft_test.db.cc SELECT id * 4 + $k, id FROM range(0, 250, 1, 1)")
    }
    val total = listFiles("cc").map(n =>
      new java.io.File(s"$warehouse/db/cc/$n").length).sum
    val (before, after) = GraftMaintenance.compactTable(
      spark, TestTables.at(s"$warehouse/db/cc"),
      targetBytes = total / 3 + 1, sortCols = Seq("id"))
    assert(before == 4 && after >= 2, s"$before -> $after")
    // per-file id ranges are pairwise disjoint after the range-clustered
    // rewrite — exactly what lets min/max stats skip whole files
    val ranges = listFiles("cc").map { n =>
      val r = spark.read.parquet(s"$warehouse/db/cc/$n")
        .agg(org.apache.spark.sql.functions.min("id"),
          org.apache.spark.sql.functions.max("id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) => assert(aMax < bMin, s"overlap: $ranges")
      case _ =>
    }
    assert(sql("SELECT count(*), sum(v) FROM graft_test.db.cc").head().toSeq
      == Seq(1000L, 4L * (0 until 250).map(_.toLong).sum))
  }

  test("INSERT OVERWRITE truncates, DROP TABLE removes the directory") {
    sql("CREATE TABLE graft_test.db.t4 (id BIGINT)")
    sql("INSERT INTO graft_test.db.t4 VALUES (1), (2)")
    sql("INSERT OVERWRITE graft_test.db.t4 VALUES (9)")
    assert(sql("SELECT id FROM graft_test.db.t4").collect().toSeq == Seq(Row(9L)))
    sql("DROP TABLE graft_test.db.t4")
    assert(!new java.io.File(s"$warehouse/db/t4").exists())
    assert(sql("SHOW TABLES IN graft_test.db").collect()
      .map(_.getString(1)).toSet.contains("t1"))
  }
}
