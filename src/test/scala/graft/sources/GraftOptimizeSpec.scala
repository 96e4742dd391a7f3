package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Selective OPTIMIZE (`graft_optimize`): census-driven per-partition
  * compaction — only debris partitions rewrite, MOR masks fold first,
  * plain tables swap files in place, and the refusal matrix routes other
  * layouts to their own compaction verbs.
  */
class GraftOptimizeSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_op_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)
  private def fs =
    new Path(warehouse).getFileSystem(spark.sessionState.newHadoopConf())

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft_op2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_op2.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_op2.db")
  }

  private def frag(t: String, batches: Int): Unit =
    (1 to batches).foreach { b =>
      spark.range(b * 100, b * 100 + 60).toDF("id")
        .withColumn("seg", (col("id") % 3).cast("string"))
        .withColumn("v", col("id") * 2)
        .repartition(1)
        .writeTo(s"graft_op2.db.$t").append()
    }

  test("nothing qualifies -> no-op; debris folds; content exact") {
    sql("""CREATE TABLE graft_op2.db.h (id BIGINT, seg STRING, v BIGINT)
          |PARTITIONED BY (seg) TBLPROPERTIES('history'='true')"""
      .stripMargin)
    frag("h", 1)
    assert(GraftMaintenance.optimizeTable(spark,
      TestTables.at(s"$warehouse/db/h")).isEmpty,
      "single-file partitions must not rewrite")
    frag("h", 3) // now 4 files per seg
    val pre = spark.table("graft_op2.db.h").groupBy("seg")
      .agg(sum("v").as("s"), count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val census = GraftMaintenance.optimizeTable(spark, TestTables.at(s"$warehouse/db/h"))
    assert(census.size == 3 && census.forall(c => c._2 == 4 && c._3 == 1),
      census.toString)
    val post = spark.table("graft_op2.db.h").groupBy("seg")
      .agg(sum("v").as("s"), count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(post == pre, "optimize must preserve every row")
  }

  test("MOR deletion vectors fold before the rewrite") {
    sql("""CREATE TABLE graft_op2.db.m (id BIGINT, seg STRING, v BIGINT)
          |PARTITIONED BY (seg)
          |TBLPROPERTIES('history'='true','merge-on-read'='true')"""
      .stripMargin)
    frag("m", 2)
    sql("DELETE FROM graft_op2.db.m WHERE id % 5 = 0")
    val expect = spark.table("graft_op2.db.m").count()
    val census = GraftMaintenance.optimizeTable(spark, TestTables.at(s"$warehouse/db/m"))
    assert(census.nonEmpty)
    assert(spark.table("graft_op2.db.m").count() == expect,
      "folded masks must not resurrect deleted rows")
    val dir = new Path(s"$warehouse/db/m")
    val head = GraftTable.headState(fs, dir, None)._2
    assert(head.forall(_.dv.isEmpty), "no sidecars may survive optimize")
  }

  test("plain partitioned tables swap files in place") {
    sql("""CREATE TABLE graft_op2.db.p (id BIGINT, seg STRING, v BIGINT)
          |PARTITIONED BY (seg)""".stripMargin)
    frag("p", 3)
    val dir = new Path(s"$warehouse/db/p")
    val preFiles = GraftTable.dataFiles(fs, dir).size
    val pre = spark.table("graft_op2.db.p").agg(sum("v")).collect()(0).getLong(0)
    val census = GraftMaintenance.optimizeTable(spark, TestTables.at(s"$warehouse/db/p"))
    assert(census.size == 3)
    assert(GraftTable.dataFiles(fs, dir).size == 3 && preFiles == 9)
    assert(spark.table("graft_op2.db.p").agg(sum("v"))
      .collect()(0).getLong(0) == pre)
  }

  test("shallow clones refuse in-place optimize (foreign-dir data loss)") {
    sql("""CREATE TABLE graft_op2.db.h2 (id BIGINT, seg STRING, v BIGINT)
          |PARTITIONED BY (seg) TBLPROPERTIES('history'='true')"""
      .stripMargin)
    frag("h2", 2)
    GraftClone.clone(spark, s"$warehouse/db/h2", s"$warehouse/db/h2s",
      shallow = true)
    val e = intercept[IllegalArgumentException] {
      GraftMaintenance.optimizeTable(spark, TestTables.at(s"$warehouse/db/h2s"))
    }
    assert(e.getMessage.contains("foreign"), e.getMessage)
    // and the source's partition dirs hold no part-optimize debris
    val dir = new Path(s"$warehouse/db/h2")
    assert(!GraftTable.dataFiles(fs, dir)
      .exists(_.contains("part-optimize")),
      "a refused optimize must not have touched the clone SOURCE")
  }

  test("other layouts are routed to their own verbs") {
    sql("CREATE TABLE graft_op2.db.flat (id BIGINT)")
    spark.range(0, 5).toDF("id").writeTo("graft_op2.db.flat").append()
    val e = intercept[IllegalArgumentException] {
      GraftMaintenance.optimizeTable(spark, TestTables.at(s"$warehouse/db/flat"))
    }
    assert(e.getMessage.contains("compactTable"), e.getMessage)
  }
}
