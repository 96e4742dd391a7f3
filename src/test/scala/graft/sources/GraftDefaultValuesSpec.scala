package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Column DEFAULT values end-to-end: CREATE/ADD COLUMN ... DEFAULT is
  * metadata-only, INSERTs resolve the current default, pre-add files
  * serve the frozen existence default instead of NULL, filters stay
  * exact across epochs, rewrites materialize the default, and changing
  * the default affects only future inserts.
  */
class GraftDefaultValuesSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_dflt_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_df", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_df.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_df.db")
  }

  test("ADD COLUMN with DEFAULT: old files serve it, filters stay exact") {
    sql("CREATE TABLE graft_df.db.t (id BIGINT, v STRING)")
    spark.range(0, 100).toDF("id")
      .withColumn("v", concat(lit("a"), col("id")))
      .writeTo("graft_df.db.t").append()                 // pre-add epoch
    val (fs, dir) = {
      val p = new org.apache.hadoop.fs.Path(s"$warehouse/db/t")
      (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    }
    val before = GraftTable.dataFiles(fs, dir).toSet
    sql("ALTER TABLE graft_df.db.t ADD COLUMN tier STRING DEFAULT 'bronze'")
    assert(GraftTable.dataFiles(fs, dir).toSet == before,
      "ADD COLUMN DEFAULT must not touch any data file")
    sql("INSERT INTO graft_df.db.t VALUES (100, 'a100', 'gold')")
    sql("INSERT INTO graft_df.db.t (id, v) VALUES (101, 'a101')")
    val t = spark.table("graft_df.db.t")
    // pre-add rows serve 'bronze' (NOT null); omitted-column insert too
    assert(t.where(col("tier").isNull).count() == 0)
    assert(t.where(col("tier") === "bronze").count() == 101)
    assert(t.where(col("tier") === "gold").collect().map(_.getLong(0)).toSeq
      == Seq(100L))
    // filter on the defaulted column over OLD files is exact
    assert(t.where(col("tier") === "bronze" && col("id") === 42L).count() == 1)
    assert(t.agg(count(lit(1))).collect()(0).getLong(0) == 102)
    // aggregation groups correctly across epochs
    assert(t.groupBy("tier").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("bronze" -> 101L, "gold" -> 1L))
  }

  test("SET DEFAULT changes future inserts only; old files keep the frozen one") {
    sql("CREATE TABLE graft_df.db.s (id BIGINT)")
    spark.range(0, 10).toDF("id").writeTo("graft_df.db.s").append()
    sql("ALTER TABLE graft_df.db.s ADD COLUMN n BIGINT DEFAULT 7")
    sql("ALTER TABLE graft_df.db.s ALTER COLUMN n SET DEFAULT 99")
    sql("INSERT INTO graft_df.db.s (id) VALUES (50)")
    val t = spark.table("graft_df.db.s")
    // the pre-add files still serve the EXISTENCE default (7), while the
    // new insert resolved the CURRENT default (99)
    assert(t.where(col("id") < 10).select("n").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
    assert(t.where(col("id") === 50).collect().head.getLong(1) == 99L)
  }

  test("rewrites materialize the default; day layout and COW compose") {
    sql("""CREATE TABLE graft_df.db.c (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 500).toDF("id").writeTo("graft_df.db.c").append()
    sql("ALTER TABLE graft_df.db.c ADD COLUMN score BIGINT DEFAULT 5")
    // COW UPDATE reads pre-add files through the default fill
    sql("UPDATE graft_df.db.c SET score = 0 WHERE id % 100 = 0")
    val t = spark.table("graft_df.db.c")
    assert(t.where(col("score") === 0).count() == 5)
    assert(t.where(col("score") === 5).count() == 495)
    // compaction lands files that PHYSICALLY carry the value
    GraftMaintenance.compactTable(spark, TestTables.at(s"$warehouse/db/c"))
    val (fs, dir) = {
      val p = new org.apache.hadoop.fs.Path(s"$warehouse/db/c")
      (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    }
    val current = GraftTable.readManifest(fs, dir,
      GraftTable.manifestVersions(fs, dir).last)
    current.foreach { f =>
      assert(spark.read.parquet(f).columns.contains("score"), s"$f")
    }
    assert(spark.table("graft_df.db.c").where(col("score") === 5).count() == 495)
  }

  test("NOT NULL without default refuses; with default is admitted") {
    sql("CREATE TABLE graft_df.db.g (id BIGINT)")
    spark.range(0, 5).toDF("id").writeTo("graft_df.db.g").append()
    intercept[Exception](
      sql("ALTER TABLE graft_df.db.g ADD COLUMN x BIGINT NOT NULL"))
    sql("ALTER TABLE graft_df.db.g ADD COLUMN y BIGINT NOT NULL DEFAULT 1")
    assert(spark.table("graft_df.db.g").where(col("y") === 1).count() == 5)
  }

  test("streaming tail and changes feed serve defaults for pre-add files") {
    sql("""CREATE TABLE graft_df.db.h (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 50).toDF("id").writeTo("graft_df.db.h").append()
    sql("ALTER TABLE graft_df.db.h ADD COLUMN lbl STRING DEFAULT 'x'")
    spark.range(50, 60).toDF("id").withColumn("lbl", lit("y"))
      .writeTo("graft_df.db.h").append()
    val ch = spark.read.table("graft_df.db.h.changes")
    assert(ch.where(col("lbl").isNull).count() == 0,
      "change images of pre-add files must carry the default")
    assert(ch.where(col("lbl") === "x").count() == 50)
    assert(ch.where(col("lbl") === "y").count() == 10)
  }
}
