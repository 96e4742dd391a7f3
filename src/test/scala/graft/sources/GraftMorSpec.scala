package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Merge-on-read row-level operations: DELETE / UPDATE / MERGE on a table
  * with TBLPROPERTIES ('merge-on-read'='true') must write deletion-vector
  * sidecars + appended files and NEVER rewrite an existing data file —
  * asserted at the file level (paths AND lengths unchanged), the inverse
  * of GraftCatalogSpec's copy-on-write contract. Then
  * `materializeDeletes` folds the vectors in and restores plain-parquet
  * readability.
  */
class GraftMorSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_mor_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_mor", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mor.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_mor.db")
  }

  private def dir(table: String) = new java.io.File(s"$warehouse/db/$table")

  private def dataFiles(table: String): Map[String, Long] =
    dir(table).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(f => f.getName -> f.length()).toMap

  private def dvFiles(table: String): Seq[String] =
    dir(table).listFiles().toSeq.map(_.getName)
      .filter(n => n.startsWith("_graft_dv_")).sorted

  private def mkTable(name: String, rows: String): Unit = {
    sql(s"DROP TABLE IF EXISTS graft_mor.db.$name")
    sql(s"""CREATE TABLE graft_mor.db.$name (id BIGINT, grp STRING, v BIGINT)
           |TBLPROPERTIES ('merge-on-read'='true')""".stripMargin)
    // two separate INSERTs = at least two data files
    sql(s"INSERT INTO graft_mor.db.$name VALUES $rows")
  }

  test("DELETE writes a deletion vector; no data file is rewritten") {
    mkTable("d1", "(1,'a',10),(2,'a',20),(3,'b',30),(4,'b',40)")
    sql("INSERT INTO graft_mor.db.d1 VALUES (5,'c',50),(6,'c',60)")
    val before = dataFiles("d1")
    assert(before.size >= 2)

    sql("DELETE FROM graft_mor.db.d1 WHERE id % 2 = 0")

    assert(dataFiles("d1") == before, "merge-on-read DELETE must not touch data files")
    assert(dvFiles("d1").nonEmpty, "expected a deletion-vector sidecar")
    val got = sql("SELECT id FROM graft_mor.db.d1 ORDER BY id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 3L, 5L))
  }

  test("second DELETE merges into the existing deletion vector") {
    mkTable("d2", "(1,'a',10),(2,'a',20),(3,'b',30),(4,'b',40),(5,'b',50)")
    // find two rows sharing a data file, delete them in two statements:
    // the second delete must MERGE into the first's sidecar, not stack
    val byFile = sql("SELECT _file, id FROM graft_mor.db.d2").collect()
      .groupBy(_.getString(0)).values.find(_.length >= 2)
      .getOrElse(fail("need a data file with >=2 rows"))
    val Seq(a, b) = byFile.map(_.getLong(1)).take(2).toSeq
    sql(s"DELETE FROM graft_mor.db.d2 WHERE id = $a")
    val dvAfterFirst = dvFiles("d2")
    sql(s"DELETE FROM graft_mor.db.d2 WHERE id = $b")
    assert(dvFiles("d2") == dvAfterFirst, "second delete reuses the same sidecar")
    val got = sql("SELECT id FROM graft_mor.db.d2 ORDER BY id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 2L, 3L, 4L, 5L).filterNot(Set(a, b)))
  }

  test("UPDATE = DV delete + appended file; original files untouched") {
    mkTable("u1", "(1,'a',10),(2,'a',20),(3,'b',30)")
    val before = dataFiles("u1")

    sql("UPDATE graft_mor.db.u1 SET v = v * 100 WHERE grp = 'a'")

    val after = dataFiles("u1")
    // originals intact byte-for-byte, plus >=1 appended file with new rows
    before.foreach { case (name, len) =>
      assert(after.get(name).contains(len), s"original $name was rewritten")
    }
    assert(after.size > before.size, "expected appended file(s) for updated rows")
    assert(dvFiles("u1").nonEmpty)
    val got = sql("SELECT id, v FROM graft_mor.db.u1 ORDER BY id").collect()
    assert(got.toSeq == Seq(Row(1L, 1000L), Row(2L, 2000L), Row(3L, 30L)))
  }

  test("MERGE INTO: matched update/delete + not-matched insert, zero rewrites") {
    mkTable("m1", "(1,'a',10),(2,'a',20),(3,'b',30),(4,'b',40)")
    val before = dataFiles("m1")
    import spark.implicits._
    Seq((2L, "U"), (3L, "D"), (9L, "I")).toDF("id", "op")
      .createOrReplaceTempView("mor_changes")

    sql("""MERGE INTO graft_mor.db.m1 t USING mor_changes c ON t.id = c.id
          |WHEN MATCHED AND c.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = t.v + 1
          |WHEN NOT MATCHED THEN INSERT (id, grp, v) VALUES (c.id, 'new', 0)
          |""".stripMargin)

    val after = dataFiles("m1")
    before.foreach { case (name, len) =>
      assert(after.get(name).contains(len), s"original $name was rewritten")
    }
    val got = sql("SELECT id, grp, v FROM graft_mor.db.m1 ORDER BY id").collect()
    assert(got.toSeq == Seq(Row(1L, "a", 10L), Row(2L, "a", 21L),
      Row(4L, "b", 40L), Row(9L, "new", 0L)))
  }

  test("_pos metadata column exposes physical row positions") {
    mkTable("p1", "(1,'a',10),(2,'a',20),(3,'a',30)")
    val pos = sql("SELECT _file, _pos, id FROM graft_mor.db.p1 ORDER BY _file, _pos")
      .collect()
    // positions are dense per file starting at 0
    val byFile = pos.groupBy(_.getString(0))
    byFile.values.foreach { rows =>
      assert(rows.map(_.getLong(1)).toSeq == rows.indices.map(_.toLong))
    }
  }

  test("materializeDeletes folds DVs in: sidecars gone, rows identical, plain-parquet readable") {
    mkTable("z1", "(1,'a',10),(2,'a',20),(3,'b',30),(4,'b',40),(5,'c',50)")
    sql("DELETE FROM graft_mor.db.z1 WHERE id IN (2, 5)")
    val expect = sql("SELECT id, grp, v FROM graft_mor.db.z1 ORDER BY id").collect().toSeq
    assert(dvFiles("z1").nonEmpty)

    val n = GraftMaintenance.materializeDeletes(spark,
      TestTables.at(dir("z1").getAbsolutePath))
    assert(n >= 1)
    assert(dvFiles("z1").isEmpty)
    val got = sql("SELECT id, grp, v FROM graft_mor.db.z1 ORDER BY id").collect().toSeq
    assert(got == expect)
    // directory is plain parquet again: native reader agrees
    val native = spark.read.parquet(dir("z1").getAbsolutePath)
      .select("id", "grp", "v").orderBy("id").collect().toSeq
    assert(native == expect)
  }

  test("compactTable on a MOR table materializes DVs then compacts") {
    mkTable("c1", "(1,'a',10),(2,'a',20),(3,'b',30),(4,'b',40)")
    sql("INSERT INTO graft_mor.db.c1 VALUES (5,'c',50),(6,'c',60)")
    sql("DELETE FROM graft_mor.db.c1 WHERE id % 3 = 0")
    val (nBefore, nAfter) =
      GraftMaintenance.compactTable(spark, TestTables.at(dir("c1").getAbsolutePath))
    assert(nBefore >= 2 && nAfter >= 1)
    assert(dvFiles("c1").isEmpty)
    val got = sql("SELECT id FROM graft_mor.db.c1 ORDER BY id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 2L, 4L, 5L))
  }

  test("INSERT OVERWRITE clears deletion vectors with the data") {
    mkTable("o1", "(1,'a',10),(2,'a',20)")
    sql("DELETE FROM graft_mor.db.o1 WHERE id = 1")
    assert(dvFiles("o1").nonEmpty)
    sql("INSERT OVERWRITE graft_mor.db.o1 VALUES (7,'z',70)")
    assert(dvFiles("o1").isEmpty, "truncate must drop stale sidecars")
    val got = sql("SELECT id, grp, v FROM graft_mor.db.o1").collect()
    assert(got.toSeq == Seq(Row(7L, "z", 70L)))
  }

  test("graft_dv_stats reports per-file physical/deleted/live rows") {
    graft.GraftExtensions.register(spark)
    mkTable("s1", "(1,'a',10),(2,'a',20),(3,'b',30),(4,'b',40)")
    sql("DELETE FROM graft_mor.db.s1 WHERE id IN (2, 3)")
    val stats = sql("SELECT * FROM graft_dv_stats('graft_mor', 'db.s1')").collect()
    assert(stats.map(_.getLong(1)).sum == 4L) // physical
    assert(stats.map(_.getLong(2)).sum == 2L) // deleted
    assert(stats.map(_.getLong(3)).sum == 2L) // live
    stats.foreach { r =>
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2))
      assert(dataFiles("s1").contains(r.getString(0)))
    }
  }

  // merge-on-read × history composition (versioned DV sidecars, time
  // travel, vacuum, change feed) is covered in GraftMorHistorySpec

  test("materializeDeletes folds a dense DV in ONE job, off the driver") {
    sql("DROP TABLE IF EXISTS graft_mor.db.dense")
    sql("""CREATE TABLE graft_mor.db.dense (id BIGINT, v BIGINT)
          |TBLPROPERTIES ('merge-on-read'='true')""".stripMargin)
    // two data files; the first takes a dense (10^5-position) DV — the
    // serialized-bitmap broadcast path must fold it without ever building
    // a driver-side position list
    spark.range(0, 200000).selectExpr("id", "id * 3 AS v")
      .coalesce(1).writeTo("graft_mor.db.dense").append()
    spark.range(200000, 200100).selectExpr("id", "id * 3 AS v")
      .coalesce(1).writeTo("graft_mor.db.dense").append()
    sql("DELETE FROM graft_mor.db.dense WHERE id < 200000 AND id % 2 = 0")
    assert(dvFiles("dense").size == 1)
    val before = dataFiles("dense")
    val folded = GraftMaintenance.materializeDeletes(spark,
      TestTables.at(dir("dense").getPath))
    assert(folded == 1 && dvFiles("dense").isEmpty)
    // the rewritten file keeps its original name; the untouched file its bytes
    val after = dataFiles("dense")
    assert(after.keySet == before.keySet,
      s"file names must survive the fold: $before -> $after")
    assert(sql("SELECT count(*), sum(v) FROM graft_mor.db.dense").collect()
      .head.toSeq == Seq(100100L,
        (0L until 200000L).filter(_ % 2 == 1).map(_ * 3).sum +
          (200000L until 200100L).map(_ * 3).sum))
  }

  test("materializeDeletes drops a fully-deleted file entirely") {
    mkTable("wipe", "(1,'a',10),(2,'a',20)")
    sql("INSERT INTO graft_mor.db.wipe VALUES (3,'b',30),(4,'b',40)")
    val before = dataFiles("wipe")
    assert(before.size >= 2)
    sql("DELETE FROM graft_mor.db.wipe WHERE grp = 'a'") // kills file 1 outright
    GraftMaintenance.materializeDeletes(spark, TestTables.at(dir("wipe").getPath))
    assert(dvFiles("wipe").isEmpty)
    assert(dataFiles("wipe").size < before.size,
      "a file whose every row is deleted must disappear, not land empty")
    assert(sql("SELECT id FROM graft_mor.db.wipe ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(3L, 4L))
  }

  test("filters on MOR reads stay exact (no record filter, values re-checked)") {
    mkTable("f1", "(1,'a',10),(2,'a',20),(3,'b',30),(4,'b',40)")
    sql("DELETE FROM graft_mor.db.f1 WHERE id = 2")
    // a predicate that would match a deleted row must not resurface it
    val got = sql("SELECT id FROM graft_mor.db.f1 WHERE v <= 20 ORDER BY id")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L))
  }
}
