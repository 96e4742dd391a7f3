package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Integrity audit (`graft_fsck`): clean bill on a healthy table, loud and
  * precise on every damage class — missing data file, lost DV sidecar,
  * broken segment ref, dangling tag — and the plain-table degenerate case.
  */
class GraftFsckSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_fk_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)
  private def fs =
    new Path(warehouse).getFileSystem(spark.sessionState.newHadoopConf())

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft_fk2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_fk2.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_fk2.db")
  }

  private def audit(dir: String): Map[String, (String, Long)] =
    GraftFsck.audit(spark, TestTables.at(dir))
      .map(f => f.check -> (f.status, f.n)).toMap

  test("healthy history table: all ok; SQL surface serves the rows") {
    sql("""CREATE TABLE graft_fk2.db.ok (id BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 50).toDF("id").withColumn("v", lit("a"))
      .coalesce(1).writeTo("graft_fk2.db.ok").append()
    val a = audit(s"$warehouse/db/ok")
    assert(a.values.forall(_._1 == "ok"), a.toString)
    val viaSql = sql("SELECT * FROM graft_fsck('graft_fk2', 'db.ok')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaSql("missing_files") == "ok" && viaSql.size == 6)
  }

  test("a lost DV sidecar is a missing file, not a silent resurrect") {
    sql("""CREATE TABLE graft_fk2.db.mor (id BIGINT, v STRING)
          |TBLPROPERTIES('history'='true','merge-on-read'='true')"""
      .stripMargin)
    spark.range(0, 60).toDF("id").withColumn("v", lit("b"))
      .coalesce(1).writeTo("graft_fk2.db.mor").append()
    sql("DELETE FROM graft_fk2.db.mor WHERE id < 5")
    val dir = new Path(s"$warehouse/db/mor")
    val dv = GraftTable.headState(fs, dir, None)._2
      .flatMap(_.dv).headOption
    assert(dv.nonEmpty, "MOR delete must have produced a DV sidecar")
    assert(audit(dir.toString)("missing_files") == ("ok", 0L))
    fs.delete(new Path(dir, dv.get), false)
    val a = audit(dir.toString)
    assert(a("missing_files") == ("fail", 1L), a.toString)
  }

  test("a dangling tag (hand-edited refs) is flagged") {
    sql("""CREATE TABLE graft_fk2.db.tg (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 10).toDF("id").coalesce(1)
      .writeTo("graft_fk2.db.tg").append()
    spark.range(10, 20).toDF("id").coalesce(1)
      .writeTo("graft_fk2.db.tg").append() // v3
    val dir = new Path(s"$warehouse/db/tg")
    GraftRefs.set(fs, dir, "ghost", 2L)
    // botched manual cleanup: the tagged manifest is hand-deleted (its
    // files stay referenced by v3's carry-forward, so ONLY the ref dangles)
    fs.delete(GraftTable.manifestPath(dir, 2L), false)
    val a = audit(dir.toString)
    assert(a("refs_dangling") == ("fail", 1L), a.toString)
    assert(a("missing_files") == ("ok", 0L), a.toString)
  }

  test("plain (non-history) table degenerates to its listing") {
    sql("CREATE TABLE graft_fk2.db.plain (id BIGINT)")
    spark.range(0, 10).toDF("id").coalesce(1)
      .writeTo("graft_fk2.db.plain").append()
    val a = audit(s"$warehouse/db/plain")
    assert(a("entries_resolve")._1 == "ok" && a.size == 1)
  }
}
