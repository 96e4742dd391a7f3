package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Format / protocol versioning (the Delta reader-writer protocol shape):
  * feature tables stamp their requirement at CREATE, loads recompute the
  * floor from the feature props themselves, too-new stamps refuse reads
  * at load and writes at write-build — reads of writer-too-new tables
  * still work.
  */
class GraftFormatSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_fv_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)
  private def fs =
    new Path(warehouse).getFileSystem(spark.sessionState.newHadoopConf())

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_fv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_fv.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_fv.db")
  }

  private def props(t: String): Map[String, String] =
    TestTables.at(s"$warehouse/db/$t").props

  private def raise(t: String, kv: (String, String)): Unit =
    GraftTable.writeProps(fs, new Path(s"$warehouse/db/$t"), props(t) + kv)

  test("CREATE stamps the computed requirement; plain tables stay bare") {
    sql("""CREATE TABLE graft_fv.db.mor (id BIGINT)
          |TBLPROPERTIES('history'='true','merge-on-read'='true')"""
      .stripMargin)
    assert(props("mor").get(GraftTable.FormatReaderProp).contains("2"))
    sql("""CREATE TABLE graft_fv.db.rid (id BIGINT)
          |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin)
    assert(props("rid").get(GraftTable.FormatReaderProp).contains("3"))
    sql("""CREATE TABLE graft_fv.db.chk (id BIGINT)
          |TBLPROPERTIES('graft.check.pos'='id >= 0')""".stripMargin)
    assert(!props("chk").contains(GraftTable.FormatReaderProp) &&
      props("chk").get(GraftTable.FormatWriterProp).contains("2"),
      "write contracts raise the WRITER floor only")
    sql("CREATE TABLE graft_fv.db.plain (id BIGINT)")
    assert(!fs.exists(new Path(s"$warehouse/db/plain/${GraftTable.PropsFile}")),
      "a feature-free table must not grow a props file")
  }

  test("a too-new reader stamp refuses the load, loudly") {
    sql("""CREATE TABLE graft_fv.db.r9 (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 5).toDF("id").writeTo("graft_fv.db.r9").append()
    raise("r9", GraftTable.FormatReaderProp -> "99")
    spark.catalog.clearCache()
    val e = intercept[Exception](spark.table("graft_fv.db.r9").count())
    assert(e.getMessage.contains("format reader version 99"), e.getMessage)
  }

  test("a malformed hand-stamped requirement refuses with the property " +
    "and table named, not a raw NumberFormatException") {
    sql("""CREATE TABLE graft_fv.db.bad (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    raise("bad", GraftTable.FormatReaderProp -> "three")
    spark.catalog.clearCache()
    val e = intercept[Exception](spark.table("graft_fv.db.bad").count())
    assert(e.getMessage.contains(GraftTable.FormatReaderProp) &&
      e.getMessage.contains("'three'") && e.getMessage.contains("bad"),
      e.getMessage)
  }

  test("a too-new writer stamp keeps reads alive and refuses writes") {
    sql("""CREATE TABLE graft_fv.db.w9 (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 5).toDF("id").writeTo("graft_fv.db.w9").append()
    raise("w9", GraftTable.FormatWriterProp -> "99")
    spark.catalog.clearCache()
    assert(spark.table("graft_fv.db.w9").count() == 5,
      "reader-compatible tables must stay readable")
    val e = intercept[Exception] {
      spark.range(5, 10).toDF("id").writeTo("graft_fv.db.w9").append()
    }
    assert(e.getMessage.contains("format writer version 99"), e.getMessage)
    val e2 = intercept[Exception](sql("DELETE FROM graft_fv.db.w9 WHERE id = 1"))
    assert(e2.getMessage.contains("format writer version 99"), e2.getMessage)
  }

  test("maintenance verbs honor the writer fence too") {
    sql("""CREATE TABLE graft_fv.db.m9 (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 8).toDF("id").writeTo("graft_fv.db.m9").append()
    spark.range(8, 12).toDF("id").writeTo("graft_fv.db.m9").append()
    raise("m9", GraftTable.FormatWriterProp -> "99")
    spark.catalog.clearCache()
    val dir = s"$warehouse/db/m9"
    val e1 = intercept[Exception](GraftMaintenance.restore(spark, TestTables.at(dir), 2L))
    assert(e1.getMessage.contains("format writer version 99"), e1.getMessage)
    val e2 = intercept[Exception](GraftMaintenance.vacuum(spark, TestTables.at(dir)))
    assert(e2.getMessage.contains("format writer version 99"), e2.getMessage)
    val e3 = intercept[Exception](GraftMaintenance.compactTable(spark, TestTables.at(dir)))
    assert(e3.getMessage.contains("format writer version 99"), e3.getMessage)
    assert(spark.table("graft_fv.db.m9").count() == 12,
      "the fenced table must stay readable and untouched")
  }

  test("legacy unstamped feature tables enforce their computed floor") {
    sql("""CREATE TABLE graft_fv.db.lg (id BIGINT)
          |TBLPROPERTIES('history'='true','merge-on-read'='true')"""
      .stripMargin)
    // simulate a pre-versioning table: strip the stamps
    GraftTable.writeProps(fs, new Path(s"$warehouse/db/lg"),
      props("lg") - GraftTable.FormatReaderProp - GraftTable.FormatWriterProp)
    spark.catalog.clearCache()
    spark.range(0, 6).toDF("id").writeTo("graft_fv.db.lg").append()
    sql("DELETE FROM graft_fv.db.lg WHERE id % 2 = 0")
    assert(spark.table("graft_fv.db.lg").count() == 3,
      "this build understands MOR — the computed floor (2) admits it")
  }
}
