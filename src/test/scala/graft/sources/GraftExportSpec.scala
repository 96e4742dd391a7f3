package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Open-format snapshot export (`graft_export`): version/tag pinning, the
  * existence-default refusal (external NULL-fill would silently diverge),
  * the shallow-clone foreign-path refusal, and re-export replacement.
  */
class GraftExportSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_ex_wh").toFile.getAbsolutePath
  private lazy val outside =
    Files.createTempDirectory("graft_ex_out").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)
  private def fs =
    new Path(warehouse).getFileSystem(spark.sessionState.newHadoopConf())

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft_ex2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ex2.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_ex2.db")
  }

  test("a tag-pinned export serves the OLD snapshot externally") {
    sql("""CREATE TABLE graft_ex2.db.t1 (id BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 100).toDF("id").withColumn("v", lit("a"))
      .coalesce(1).writeTo("graft_ex2.db.t1").append() // v2
    sql("SELECT * FROM graft_tag('graft_ex2', 'db.t1', 'cut')").collect()
    sql("DELETE FROM graft_ex2.db.t1 WHERE id >= 50") // v3
    val dest = s"$outside/t1cut"
    val r = sql("SELECT * FROM graft_export(" +
      s"'graft_ex2', 'db.t1', '$dest', 'cut')").collect().head
    assert(r.getLong(2) == 2L, s"tag must pin v2: $r")
    val paths = GraftExport.manifestPaths(fs, new Path(dest))
    assert(spark.read.parquet(paths: _*).count() == 100,
      "the pinned export must serve the PRE-delete snapshot")
    // head export sees the delete; re-export REPLACES the dest
    sql(s"SELECT * FROM graft_export('graft_ex2', 'db.t1', '$dest')")
      .collect()
    val headPaths = GraftExport.manifestPaths(fs, new Path(dest))
    assert(spark.read.parquet(headPaths: _*).count() == 50,
      "re-export must replace the manifest tree with the head snapshot")
  }

  test("stale existence defaults refuse; a rewrite unlocks the export") {
    sql("""CREATE TABLE graft_ex2.db.t2 (id BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 40).toDF("id").withColumn("v", lit("x"))
      .coalesce(1).writeTo("graft_ex2.db.t2").append()
    sql("ALTER TABLE graft_ex2.db.t2 ADD COLUMN tier STRING DEFAULT 'std'")
    val e = intercept[IllegalArgumentException] {
      GraftExport.exportSnapshot(spark, TestTables.at(s"$warehouse/db/t2"),
        s"$outside/t2")
    }
    assert(e.getMessage.contains("existence default"), e.getMessage)
    // a COW rewrite materializes the default physically
    sql("UPDATE graft_ex2.db.t2 SET v = 'y' WHERE id >= 0")
    val (files, _, _) = GraftExport.exportSnapshot(
      spark, TestTables.at(s"$warehouse/db/t2"), s"$outside/t2")
    assert(files > 0)
    val got = spark.read.parquet(
      GraftExport.manifestPaths(fs, new Path(s"$outside/t2")): _*)
    assert(got.where(col("tier") === "std").count() == 40,
      "the rewritten files must carry the materialized default")
  }

  test("export reaches a DESTINATION on a different filesystem (the " +
    "interop case: table on one store, symlink tree on another)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    sql("""CREATE TABLE graft_ex2.db.t5 (id BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 25).toDF("id").withColumn("v", lit("c"))
      .coalesce(1).writeTo("graft_ex2.db.t5").append()
    val dest = s"graftfs://$outside/t5x" // same disk, DIFFERENT scheme
    val (files, _, v) = GraftExport.exportSnapshot(
      spark, TestTables.at(s"$warehouse/db/t5"), dest)
    assert(files > 0 && v == 2L)
    // the tree landed (visible through the plain local fs) and its
    // manifest paths are qualified against the SOURCE scheme, so an
    // external reader on the destination store can reach the data
    assert(fs.exists(new Path(s"$outside/t5x/_graft_export.txt")))
    val paths = GraftExport.manifestPaths(fs, new Path(s"$outside/t5x"))
    assert(paths.forall(_.startsWith("file:")), paths.take(2).toString)
    assert(spark.read.parquet(paths: _*).count() == 25)
  }

  test("shallow-clone foreign references refuse") {
    sql("""CREATE TABLE graft_ex2.db.t3 (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 10).toDF("id").coalesce(1)
      .writeTo("graft_ex2.db.t3").append()
    GraftClone.clone(spark, TestTables.at(s"$warehouse/db/t3"), s"$warehouse/db/t3s",
      shallow = true)
    val e = intercept[IllegalArgumentException] {
      GraftExport.exportSnapshot(spark, TestTables.at(s"$warehouse/db/t3s"),
        s"$outside/t3s")
    }
    assert(e.getMessage.contains("foreign"), e.getMessage)
  }
}
