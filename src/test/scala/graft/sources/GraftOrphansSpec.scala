package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** Orphan-file cleanup and the `.files` metadata TVF: crashed-commit
  * debris is invisible to reads (the manifest is the table), removable
  * after a grace window, and never takes a referenced file with it.
  */
class GraftOrphansSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_orph_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft_or", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_or.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_or.db")
  }

  test("orphans are invisible, then removed; referenced files survive") {
    sql("""CREATE TABLE graft_or.db.t1 (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_or.db.t1 VALUES (1, 'real')")
    // crashed-commit debris: a parquet file landed, manifest never written
    val root = new java.io.File(s"$warehouse/db/t1")
    import spark.implicits._
    val stray = new java.io.File(root, "stray")
    Seq((99L, "ghost")).toDF("k", "v").coalesce(1)
      .write.parquet(stray.getAbsolutePath)
    val strayPart = stray.listFiles().find(_.getName.endsWith(".parquet")).get
    val orphan = new java.io.File(root, "part-orphan-deadbeef.parquet")
    java.nio.file.Files.move(strayPart.toPath, orphan.toPath)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(stray)
    assert(orphan.exists)
    // the manifest is the table: the ghost row never appears
    assert(spark.table("graft_or.db.t1").count() == 1)
    // inside the grace window nothing is removed
    assert(GraftMaintenance.removeOrphans(spark, TestTables.at(root.getPath)) == 0)
    assert(orphan.exists)
    // past the grace window the orphan goes, the referenced file stays
    val n = sql("SELECT * FROM graft_remove_orphans('graft_or', 'db.t1', 0)")
      .collect().head.getInt(0)
    assert(n == 1 && !orphan.exists)
    assert(spark.table("graft_or.db.t1").collect().head.getString(1) == "real")
    // plain tables refuse: their directory listing IS the table
    sql("CREATE TABLE graft_or.db.plain (k BIGINT)")
    intercept[Exception](
      GraftMaintenance.removeOrphans(spark, TestTables.at(s"$warehouse/db/plain")))
  }

  test("graft_files serves sizes and row counts from the stats log") {
    sql("""CREATE TABLE graft_or.db.t2 (k BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_or.db.t2 SELECT id, id FROM range(0, 100)")
    sql("INSERT INTO graft_or.db.t2 SELECT id, id FROM range(100, 150)")
    val rows = sql("SELECT * FROM graft_files('graft_or', 'db.t2')").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => !r.isNullAt(2)), "every writer file has stats")
    assert(rows.map(_.getLong(2)).sum == 150L,
      "metadata row counts must equal reality")
    assert(rows.forall(_.getLong(1) > 0))
    // a DV'd merge-on-read file reports its sidecar
    sql("""CREATE TABLE graft_or.db.t3 (k BIGINT, v BIGINT)
          |TBLPROPERTIES('merge-on-read'='true')""".stripMargin)
    sql("INSERT INTO graft_or.db.t3 SELECT id, id FROM range(0, 10)")
    sql("DELETE FROM graft_or.db.t3 WHERE k = 3")
    val mor = sql("SELECT * FROM graft_files('graft_or', 'db.t3')").collect()
    assert(mor.exists(r => !r.isNullAt(3)), "DV sidecar must be reported")
  }

  test("snapshot audit: clean table reports nothing; damage and stats lies surface") {
    sql("""CREATE TABLE graft_or.db.va (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_or.db.va SELECT id, concat('v', id) FROM range(0, 200)")
    sql("INSERT INTO graft_or.db.va SELECT id, concat('v', id) FROM range(200, 400)")
    def audit(mode: String = "meta") = sql(
      s"SELECT * FROM graft_verify_snapshot('graft_or', 'db.va', '$mode')")
      .collect()
    assert(audit().isEmpty && audit("deep").isEmpty, "fresh table must be clean")

    // clobber one live data file with junk of a DIFFERENT length: the
    // metadata audit flags the size mismatch against the stats log
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/va")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val victim = new org.apache.hadoop.fs.Path(
      GraftTable.dataFiles(fs, dir).head)
    val origLen = fs.getFileStatus(victim).getLen
    val out = fs.create(victim, true)
    out.write("junk".getBytes("UTF-8")); out.close()
    val f1 = audit()
    assert(f1.length == 1 && f1.head.getString(1) == "size_mismatch" &&
      f1.head.getLong(2) == origLen && f1.head.getLong(3) == 4L,
      s"expected the clobbered file's size finding, got ${f1.toSeq}")

    // delete it outright: missing_data_file (and deep mode must not crash
    // on — or double-report — a file it cannot open)
    fs.delete(victim, false)
    val f2 = audit("deep")
    assert(f2.length == 1 && f2.head.getString(1) == "missing_data_file",
      s"expected only the missing-file finding, got ${f2.toSeq}")

    // deep row-count check: lie in the stats log (size kept, rows inflated)
    sql("""CREATE TABLE graft_or.db.vb (k BIGINT)""")
    sql("INSERT INTO graft_or.db.vb SELECT id FROM range(0, 50)")
    val dirB = new org.apache.hadoop.fs.Path(s"$warehouse/db/vb")
    val fb = GraftTable.dataFiles(fs, dirB).head
    val name = new org.apache.hadoop.fs.Path(fb).getName
    val real = GraftFileLog.stats(fs, dirB)(name)
    GraftFileLog.retain(fs, dirB, _ => false) // drop all entries
    GraftFileLog.publish(fs, dirB,
      Seq(name -> real.copy(rows = real.rows + 7)), Nil)
    val fb1 = sql(
      "SELECT * FROM graft_verify_snapshot('graft_or', 'db.vb', 'deep')")
      .collect()
    assert(fb1.length == 1 && fb1.head.getString(1) == "row_count_mismatch" &&
      fb1.head.getLong(2) == real.rows + 7 && fb1.head.getLong(3) == real.rows,
      s"expected the stats-log lie to surface, got ${fb1.toSeq}")
    // metadata mode alone cannot see it (size agrees) — deep is the point
    assert(sql(
      "SELECT * FROM graft_verify_snapshot('graft_or', 'db.vb')")
      .collect().isEmpty)
  }
}
