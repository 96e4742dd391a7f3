package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Branches: isolated write heads forked from a main snapshot, published
  * by fast-forward — isolation, divergence refusal, liveness under
  * vacuum/orphan-cleanup, reclamation on drop, MOR/layout composition.
  */
class GraftBranchSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_br_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)
  private def fsDir(t: String) = {
    val p = new Path(s"$warehouse/db/$t")
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft_br", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_br.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_br.db")
  }

  test("fork, isolated commits, read-through-base, fast-forward") {
    sql("""CREATE TABLE graft_br.db.t (id BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 100).toDF("id").withColumn("v", lit("main"))
      .writeTo("graft_br.db.t").append()
    sql("SELECT * FROM graft_branch('graft_br', 'db.t', 'audit')").collect()
    // pre-first-commit branch read = the base snapshot
    assert(spark.table("graft_br.db.t.branch_audit").count() == 100)
    spark.range(100, 150).toDF("id").withColumn("v", lit("staged"))
      .writeTo("graft_br.db.t.branch_audit").append()
    spark.range(150, 160).toDF("id").withColumn("v", lit("staged"))
      .writeTo("graft_br.db.t.branch_audit").append()
    // branch sees base + both staged commits; main sees neither
    assert(spark.table("graft_br.db.t.branch_audit").count() == 160)
    assert(spark.table("graft_br.db.t").count() == 100)
    val (fs, dir) = fsDir("t")
    // main log: v1 = CREATE's empty table, v2 = the append — and it must
    // not move while the branch stages
    assert(GraftTable.manifestVersions(fs, dir) == Seq(1L, 2L),
      "main log must not move while the branch stages")
    val rows = sql(
      "SELECT * FROM graft_branches('graft_br', 'db.t')").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq(("audit", 2L, 4L)))
    val ff = sql(
      "SELECT * FROM graft_fastforward('graft_br', 'db.t', 'audit')")
      .collect().head
    assert((ff.getLong(0), ff.getLong(1)) == (2L, 4L))
    // main adopted the branch head; the log is contiguous; record retired
    assert(spark.table("graft_br.db.t").count() == 160)
    assert(GraftTable.manifestVersions(fs, dir) == Seq(1L, 2L, 3L, 4L))
    assert(GraftBranch.readAll(fs, dir).isEmpty)
    // the published commits time-travel like any other
    assert(sql("SELECT * FROM graft_br.db.t VERSION AS OF 3").count() == 150)
    assert(GraftTable.commitKind(fs, dir, 4).contains(GraftTable.KindAppend))
  }

  test("divergence: a main commit after the fork refuses the fast-forward") {
    sql("""CREATE TABLE graft_br.db.d (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 10).toDF("id").writeTo("graft_br.db.d").append()
    sql("SELECT * FROM graft_branch('graft_br', 'db.d', 'wip')").collect()
    spark.range(10, 20).toDF("id").writeTo("graft_br.db.d.branch_wip").append()
    spark.range(100, 105).toDF("id").writeTo("graft_br.db.d").append() // diverge
    val e = intercept[Exception](
      sql("SELECT * FROM graft_fastforward('graft_br', 'db.d', 'wip')").collect())
    assert(e.getMessage.contains("diverged") || e.getMessage.contains("advanced"))
    // both heads still read consistently after the refusal
    assert(spark.table("graft_br.db.d").count() == 15)
    assert(spark.table("graft_br.db.d.branch_wip").count() == 20)
  }

  test("COW row-level ops commit to the branch, not main") {
    sql("""CREATE TABLE graft_br.db.c (id BIGINT, status STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 50).toDF("id").withColumn("status", lit("new"))
      .writeTo("graft_br.db.c").append()
    sql("SELECT * FROM graft_branch('graft_br', 'db.c', 'fix')").collect()
    sql("UPDATE graft_br.db.c.branch_fix SET status = 'done' WHERE id < 10")
    sql("DELETE FROM graft_br.db.c.branch_fix WHERE id >= 45")
    val br = spark.table("graft_br.db.c.branch_fix")
    assert(br.where(col("status") === "done").count() == 10)
    assert(br.count() == 45)
    val main = spark.table("graft_br.db.c")
    assert(main.where(col("status") === "done").count() == 0)
    assert(main.count() == 50)
    sql("SELECT * FROM graft_fastforward('graft_br', 'db.c', 'fix')").collect()
    assert(spark.table("graft_br.db.c").where(col("status") === "done").count() == 10)
    assert(spark.table("graft_br.db.c").count() == 45)
  }

  test("MOR branch deltas stage DVs invisibly to main") {
    sql("""CREATE TABLE graft_br.db.m (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true', 'merge-on-read'='true')""".stripMargin)
    spark.range(0, 200).toDF("id").withColumn("v", col("id") * 2)
      .writeTo("graft_br.db.m").append()
    sql("SELECT * FROM graft_branch('graft_br', 'db.m', 'morwip')").collect()
    sql("DELETE FROM graft_br.db.m.branch_morwip WHERE id % 10 = 0")
    assert(spark.table("graft_br.db.m.branch_morwip").count() == 180)
    assert(spark.table("graft_br.db.m").count() == 200,
      "main must not see branch deletion vectors")
    sql("SELECT * FROM graft_fastforward('graft_br', 'db.m', 'morwip')").collect()
    assert(spark.table("graft_br.db.m").count() == 180)
  }

  test("drop reclaims branch-only files; vacuum and purge respect branches") {
    sql("""CREATE TABLE graft_br.db.r (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 30).toDF("id").writeTo("graft_br.db.r").append()
    spark.range(30, 60).toDF("id").writeTo("graft_br.db.r").append()
    sql("SELECT * FROM graft_branch('graft_br', 'db.r', 'tmp')").collect()
    spark.range(60, 90).toDF("id").writeTo("graft_br.db.r.branch_tmp").append()
    val (fs, dir) = fsDir("r")
    val before = GraftTable.dataFiles(fs, dir).size
    // purge refuses while the branch lives
    val pe = intercept[Exception](
      GraftMaintenance.purge(spark, "graft_br",
        GraftTable.load(spark, "graft_br", "db.r"), "id < 5"))
    assert(pe.getMessage.contains("branch"))
    // vacuum keepLast=1 may expire main v1 but must keep the branch base
    // (v2) and every branch-referenced file
    GraftMaintenance.vacuum(spark, TestTables.at(dir), keepLast = 1)
    assert(spark.table("graft_br.db.r.branch_tmp").count() == 90,
      "vacuum tore the branch")
    // orphan cleanup (grace 0) must not take branch files either
    GraftMaintenance.removeOrphans(spark, TestTables.at(dir), graceMillis = 0L)
    assert(spark.table("graft_br.db.r.branch_tmp").count() == 90)
    val r = sql(
      "SELECT * FROM graft_drop_branch('graft_br', 'db.r', 'tmp')")
      .collect().head
    assert(r.getInt(0) == 1, "one branch manifest dropped")
    assert(r.getInt(1) >= 1, "branch-only data files reclaimed")
    assert(GraftTable.dataFiles(fs, dir).size < before)
    assert(spark.table("graft_br.db.r").count() == 60)
    intercept[Exception](spark.table("graft_br.db.r.branch_tmp").count())
  }

  test("branch writes keep the table's layout and CHECK constraints") {
    sql("""CREATE TABLE graft_br.db.l (id BIGINT, seg STRING)
          |PARTITIONED BY (seg)
          |TBLPROPERTIES('history'='true', 'graft.check.pos'='id >= 0')""".stripMargin)
    spark.range(0, 20).toDF("id")
      .withColumn("seg", when(col("id") % 2 === 0, "a").otherwise("b"))
      .writeTo("graft_br.db.l").append()
    sql("SELECT * FROM graft_branch('graft_br', 'db.l', 'load')").collect()
    spark.range(20, 40).toDF("id")
      .withColumn("seg", when(col("id") % 2 === 0, "a").otherwise("b"))
      .writeTo("graft_br.db.l.branch_load").append()
    // identity layout routed on the branch: files live under seg=<v>/
    val (fs, dir) = fsDir("l")
    val (_, entries) = GraftTable.headState(fs, dir, Some("load"))
    assert(entries.nonEmpty && entries.forall(e =>
      e.file.contains("seg=a") || e.file.contains("seg=b")))
    // CHECK enforced on the branch write path too
    intercept[Exception] {
      spark.range(-5, -4).toDF("id").withColumn("seg", lit("a"))
        .writeTo("graft_br.db.l.branch_load").append()
    }
    assert(spark.table("graft_br.db.l.branch_load").count() == 40)
  }

  test("cherry-pick publishes append-only branches past a diverged main") {
    sql("""CREATE TABLE graft_br.db.cp (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 10).toDF("id").writeTo("graft_br.db.cp").append()
    sql("SELECT * FROM graft_branch('graft_br', 'db.cp', 'adds')").collect()
    spark.range(100, 120).toDF("id").writeTo("graft_br.db.cp.branch_adds").append()
    spark.range(200, 205).toDF("id").writeTo("graft_br.db.cp.branch_adds").append()
    // main diverges — fast-forward refuses, cherry-pick commutes
    spark.range(10, 20).toDF("id").writeTo("graft_br.db.cp").append()
    intercept[Exception](
      sql("SELECT * FROM graft_fastforward('graft_br', 'db.cp', 'adds')").collect())
    val r = sql("SELECT * FROM graft_cherrypick('graft_br', 'db.cp', 'adds')")
      .collect().head
    assert(r.getInt(0) > 0)
    val t = spark.table("graft_br.db.cp")
    assert(t.count() == 45, s"10 base + 25 branch + 10 diverged, got ${t.count()}")
    assert(t.agg(sum("id")).collect()(0).getLong(0) ==
      (0L until 20).sum + (100L until 120).sum + (200L until 205).sum)
    val (fs, dir) = fsDir("cp")
    assert(GraftBranch.readAll(fs, dir).isEmpty, "branch record retired")
  }

  test("cherry-pick refuses row-level branch commits") {
    sql("""CREATE TABLE graft_br.db.cpr (id BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 10).toDF("id").withColumn("v", lit("x"))
      .writeTo("graft_br.db.cpr").append()
    sql("SELECT * FROM graft_branch('graft_br', 'db.cpr', 'mix')").collect()
    sql("UPDATE graft_br.db.cpr.branch_mix SET v = 'y' WHERE id < 3")
    spark.range(10, 12).toDF("id").withColumn("v", lit("x"))
      .writeTo("graft_br.db.cpr").append() // diverge
    val e = intercept[Exception](
      sql("SELECT * FROM graft_cherrypick('graft_br', 'db.cpr', 'mix')").collect())
    assert(e.getMessage.contains("APPEND") || e.getMessage.contains("replace"))
    // nothing half-applied: main unchanged, branch intact
    assert(spark.table("graft_br.db.cpr").where(col("v") === "y").count() == 0)
    assert(spark.table("graft_br.db.cpr.branch_mix")
      .where(col("v") === "y").count() == 3)
  }

  test("name validation and duplicate refusal") {
    sql("""CREATE TABLE graft_br.db.n (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 5).toDF("id").writeTo("graft_br.db.n").append()
    intercept[Exception](
      sql("SELECT * FROM graft_branch('graft_br', 'db.n', 'bad_name')").collect())
    intercept[Exception](
      sql("SELECT * FROM graft_branch('graft_br', 'db.n', '123')").collect())
    sql("SELECT * FROM graft_branch('graft_br', 'db.n', 'ok')").collect()
    intercept[Exception](
      sql("SELECT * FROM graft_branch('graft_br', 'db.n', 'ok')").collect())
  }
}
