package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-on-read × layout composition: deletion-vector deletes and
  * delta inserts must respect the table's day/bucket layout — DVs sit at
  * the root keyed by the uuid-unique file NAME, delta inserts route
  * through the same layout writer as batch appends, and DV
  * materialization lands rewrites NEXT TO their originals, so hidden-day
  * pruning and the bNNNNN- bucket placement contract survive the whole
  * delete→fold loop.
  */
class GraftMorLayoutSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_morl_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_ml", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ml.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_ml.db")
  }

  private def planned(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  test("MOR × days(): DV delete keeps the layout; pruning and fold survive") {
    sql("""CREATE TABLE graft_ml.db.ev (id BIGINT, ts TIMESTAMP, v BIGINT)
          |PARTITIONED BY (days(ts))
          |TBLPROPERTIES('merge-on-read'='true')""".stripMargin)
    sql("""INSERT INTO graft_ml.db.ev VALUES
          |(1, TIMESTAMP '2026-08-01 06:00:00', 10),
          |(2, TIMESTAMP '2026-08-01 18:00:00', 11),
          |(3, TIMESTAMP '2026-08-02 06:00:00', 20),
          |(4, TIMESTAMP '2026-08-03 06:00:00', 30)""".stripMargin)
    val root = new java.io.File(s"$warehouse/db/ev")
    def dayDirs = root.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("ts_day=")).map(_.getName).sorted
    def files = GraftTable.dataFiles(
      new org.apache.hadoop.fs.Path(root.getPath)
        .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(root.getPath)).toSet
    assert(dayDirs.length == 3)
    val before = files

    sql("DELETE FROM graft_ml.db.ev WHERE id = 2") // DV, no rewrite
    assert(files == before, "a MOR delete must not rewrite day files")
    assert(root.listFiles().exists(f => GraftDv.isDv(f.getName)),
      "the delete must land a root sidecar keyed by file name")
    assert(spark.table("graft_ml.db.ev").count() == 3)
    // day pruning intact through the DV-aware scan
    val day1 = spark.table("graft_ml.db.ev")
      .where(col("ts") < lit("2026-08-02 00:00:00").cast("timestamp"))
    assert(planned(day1) == 1 &&
      day1.collect().map(_.getLong(0)).toSeq == Seq(1L))

    // UPDATE = DV delete + delta insert ROUTED into its day dir
    sql("UPDATE graft_ml.db.ev SET v = 99 WHERE id = 3")
    assert(spark.table("graft_ml.db.ev")
      .where(col("id") === 3).collect().head.getLong(2) == 99)
    val day2 = spark.table("graft_ml.db.ev")
      .where(col("ts") >= lit("2026-08-02 00:00:00").cast("timestamp") &&
        col("ts") < lit("2026-08-03 00:00:00").cast("timestamp"))
    assert(day2.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((3L, 99L)),
      "the updated row version must live in (and prune to) its day dir")

    GraftMaintenance.materializeDeletes(spark, TestTables.at(root.getPath))
    assert(!root.listFiles().exists(f => GraftDv.isDv(f.getName)))
    assert(dayDirs.length == 3, "the fold must not flatten day dirs")
    val day1After = spark.table("graft_ml.db.ev")
      .where(col("ts") < lit("2026-08-02 00:00:00").cast("timestamp"))
    assert(planned(day1After) == 1 &&
      day1After.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // per-day compaction folds the update's extra file back to one
    val (b, a) = GraftMaintenance.compactDayTable(spark, TestTables.at(root.getPath))
    assert(a <= b)
    assert(spark.table("graft_ml.db.ev").count() == 3)
  }

  test("MOR × bucket: delta inserts and folds keep the bNNNNN- contract") {
    sql("""CREATE TABLE graft_ml.db.bk (k BIGINT, v BIGINT)
          |PARTITIONED BY (bucket(4, k))
          |TBLPROPERTIES('merge-on-read'='true')""".stripMargin)
    sql("INSERT INTO graft_ml.db.bk SELECT id, id FROM range(0, 40)")
    sql("""MERGE INTO graft_ml.db.bk t
          |USING (SELECT id AS k, id * 10 AS v FROM range(20, 60)) c
          |ON t.k = c.k
          |WHEN MATCHED THEN UPDATE SET v = c.v
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (c.k, c.v)""".stripMargin)
    val fs = new org.apache.hadoop.fs.Path(s"$warehouse/db/bk")
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/bk")
    def names = GraftTable.dataFiles(fs, dir)
      .map(f => new org.apache.hadoop.fs.Path(f).getName)
    assert(names.forall(GraftBucket.fileBucketId(_).isDefined),
      s"every file (incl. delta inserts) must carry the bucket prefix: $names")
    assert(spark.table("graft_ml.db.bk").count() == 60)
    assert(spark.table("graft_ml.db.bk").where(col("k") === 30)
      .collect().head.getLong(1) == 300)

    sql("DELETE FROM graft_ml.db.bk WHERE k % 3 = 0")
    GraftMaintenance.materializeDeletes(spark, TestTables.at(dir))
    assert(names.forall(GraftBucket.fileBucketId(_).isDefined),
      "the DV fold must keep bucket naming")
    assert(spark.table("graft_ml.db.bk").count() == 40)
    // per-bucket compaction still routes (and the scan still groups)
    val (b, a) = GraftMaintenance.compactBucketedTable(spark, TestTables.at(dir))
    assert(a <= b)
    assert(spark.table("graft_ml.db.bk").count() == 40)
  }

  test("MOR × days() × history: snapshots, pruning and vacuum compose") {
    sql("""CREATE TABLE graft_ml.db.evh (id BIGINT, ts TIMESTAMP, v BIGINT)
          |PARTITIONED BY (days(ts))
          |TBLPROPERTIES('merge-on-read'='true', 'history'='true')""".stripMargin)
    sql("""INSERT INTO graft_ml.db.evh VALUES
          |(1, TIMESTAMP '2026-08-01 06:00:00', 10),
          |(2, TIMESTAMP '2026-08-02 06:00:00', 20),
          |(3, TIMESTAMP '2026-08-03 06:00:00', 30)""".stripMargin) // v2
    sql("DELETE FROM graft_ml.db.evh WHERE id = 2") // v3: versioned DV
    assert(spark.table("graft_ml.db.evh").count() == 2)
    assert(sql("SELECT count(*) FROM graft_ml.db.evh VERSION AS OF 2")
      .collect().head.getLong(0) == 3,
      "time travel must resurrect the DV-deleted row")
    // pinned read keeps day pruning (layout carried through pinned loads)
    val pinnedDay = sql("SELECT * FROM graft_ml.db.evh VERSION AS OF 2")
      .where(col("ts") >= lit("2026-08-02 00:00:00").cast("timestamp") &&
        col("ts") < lit("2026-08-03 00:00:00").cast("timestamp"))
    assert(planned(pinnedDay) == 1 && pinnedDay.count() == 1)
    GraftMaintenance.vacuum(spark, TestTables.at(s"$warehouse/db/evh"), keepLast = 1)
    assert(spark.table("graft_ml.db.evh").count() == 2)
  }
}
