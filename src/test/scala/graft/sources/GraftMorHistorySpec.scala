package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-on-read × history snapshots: deletion-vector sidecars are
  * VERSIONED in the manifest — each delta commit writes a fresh merged
  * sidecar under a unique name and re-points its entry, so every
  * snapshot keeps its own delete state. Contracts under test: time
  * travel resurrects deleted rows; DV materialization is a compact-kind
  * commit that preserves visible rows and old snapshots; vacuum expires
  * superseded sidecars; restore rolls back delete state; the change feed
  * serves PRECISE per-position delete images from DV diffs; purge
  * destroys the bytes.
  */
class GraftMorHistorySpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_morh_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_mh", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mh.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_mh.db")
  }

  private def dir(t: String) = new org.apache.hadoop.fs.Path(s"$warehouse/db/$t")
  private def fs = dir("x").getFileSystem(spark.sessionState.newHadoopConf())

  private def dataFileNames(t: String): Set[String] =
    GraftTable.dataFiles(fs, dir(t)).map(f =>
      new org.apache.hadoop.fs.Path(f).getName).toSet

  private def entriesOf(t: String, v: Long): Seq[(String, Option[String])] =
    GraftTable.readEntries(fs, dir(t), v)

  private def latest(t: String): Long =
    GraftTable.manifestVersions(fs, dir(t)).last

  test("DELETE versions the DV in the manifest; time travel resurrects; deletes accumulate") {
    sql("""CREATE TABLE graft_mh.db.t (id BIGINT, v BIGINT)
          |TBLPROPERTIES ('merge-on-read'='true', 'history'='true')""".stripMargin)
    sql("INSERT INTO graft_mh.db.t SELECT id, id * 10 FROM range(0, 100)") // v2
    val filesBefore = dataFileNames("t")

    sql("DELETE FROM graft_mh.db.t WHERE id % 4 = 0") // v3: DV, no rewrite
    assert(dataFileNames("t") == filesBefore,
      "a MOR delete must not rewrite or add data files")
    val v3 = latest("t")
    assert(entriesOf("t", v3).exists(_._2.isDefined),
      "the delete commit must re-point an entry at a versioned sidecar")
    assert(entriesOf("t", v3 - 1).forall(_._2.isEmpty),
      "the pre-delete snapshot's entries must stay DV-free")
    assert(spark.table("graft_mh.db.t").count() == 75)
    assert(sql("SELECT count(*) FROM graft_mh.db.t VERSION AS OF 2")
      .collect().head.getLong(0) == 100,
      "VERSION AS OF pre-delete must resurrect the deleted rows")

    sql("DELETE FROM graft_mh.db.t WHERE id % 4 = 1") // v4: merged DV
    assert(spark.table("graft_mh.db.t").count() == 50)
    // each snapshot sees exactly its own delete state
    assert(sql("SELECT count(*) FROM graft_mh.db.t VERSION AS OF 3")
      .collect().head.getLong(0) == 75)
    assert(sql("SELECT count(*) FROM graft_mh.db.t VERSION AS OF 2")
      .collect().head.getLong(0) == 100)
    // the two delete commits reference two DIFFERENT sidecar files
    val dv3 = entriesOf("t", 3).flatMap(_._2).toSet
    val dv4 = entriesOf("t", 4).flatMap(_._2).toSet
    assert(dv3.nonEmpty && dv4.nonEmpty && (dv3 & dv4).isEmpty,
      s"sidecars must be versioned per commit: $dv3 vs $dv4")
  }

  test("MERGE on a MOR history table: delete+insert delta, snapshots intact") {
    sql("""CREATE TABLE graft_mh.db.m (id BIGINT, v BIGINT)
          |TBLPROPERTIES ('merge-on-read'='true', 'history'='true')""".stripMargin)
    sql("INSERT INTO graft_mh.db.m SELECT id, id FROM range(0, 50)")
    val filesBefore = dataFileNames("m")
    sql("""MERGE INTO graft_mh.db.m t
          |USING (SELECT id, id * 100 AS v FROM range(25, 75)) c
          |ON t.id = c.id
          |WHEN MATCHED THEN UPDATE SET v = c.v
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (c.id, c.v)""".stripMargin)
    // updates = DV delete + appended file; originals untouched
    assert(filesBefore.subsetOf(dataFileNames("m")))
    assert(spark.table("graft_mh.db.m").count() == 75)
    assert(spark.table("graft_mh.db.m").where(col("id") === 30)
      .collect().head.getLong(1) == 3000)
    assert(sql("SELECT v FROM graft_mh.db.m VERSION AS OF 2 WHERE id = 30")
      .collect().head.getLong(0) == 30,
      "the pre-merge snapshot must serve the pre-update value")
  }

  test("change feed serves PRECISE per-position delete images from DV diffs") {
    sql("""CREATE TABLE graft_mh.db.c (id BIGINT, v BIGINT)
          |TBLPROPERTIES ('merge-on-read'='true', 'history'='true')""".stripMargin)
    sql("INSERT INTO graft_mh.db.c SELECT id, id FROM range(0, 60)") // v2
    sql("DELETE FROM graft_mh.db.c WHERE id % 5 = 0") // v3
    sql("DELETE FROM graft_mh.db.c WHERE id % 5 = 1") // v4
    val changes = spark.table("graft_mh.db.c.changes")
    val delV3 = changes.where(col("_commit_version") === 3 &&
      col("_change_type") === "delete").select("id", "v")
    // EXACTLY the rows deleted in v3 — not file-granular churn
    assert(delV3.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 60L).filter(_ % 5 == 0))
    assert(changes.where(col("_commit_version") === 3 &&
      col("_change_type") === "insert").count() == 0,
      "a pure MOR delete commit must emit no insert images")
    val delV4 = changes.where(col("_commit_version") === 4 &&
      col("_change_type") === "delete")
    assert(delV4.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 60L).filter(_ % 5 == 1),
      "the v4 images must be the DV DIFF, not the cumulative bitmap")
  }

  test("materializeDeletes commits compact-kind; snapshots survive until vacuum") {
    sql("""CREATE TABLE graft_mh.db.f (id BIGINT, v BIGINT)
          |TBLPROPERTIES ('merge-on-read'='true', 'history'='true')""".stripMargin)
    sql("INSERT INTO graft_mh.db.f SELECT id, id FROM range(0, 80)") // v2
    sql("DELETE FROM graft_mh.db.f WHERE id >= 40") // v3
    val dvd = entriesOf("f", latest("f")).count(_._2.isDefined)
    assert(dvd >= 1)
    val n = GraftMaintenance.materializeDeletes(spark, TestTables.at(dir("f").toString))
    assert(n == dvd, s"must fold exactly the $dvd DV'd entries, folded $n")
    val v = latest("f")
    assert(GraftTable.commitKind(fs, dir("f"), v)
      .contains(GraftTable.KindCompact))
    assert(entriesOf("f", v).forall(_._2.isEmpty),
      "the materialized snapshot must carry no DVs")
    assert(spark.table("graft_mh.db.f").count() == 40)
    // past snapshots still read their own state (files + sidecars remain)
    assert(sql("SELECT count(*) FROM graft_mh.db.f VERSION AS OF 2")
      .collect().head.getLong(0) == 80)
    assert(sql("SELECT count(*) FROM graft_mh.db.f VERSION AS OF 3")
      .collect().head.getLong(0) == 40)

    val (manifests, files) = GraftMaintenance.vacuum(spark,
      TestTables.at(dir("f").toString))
    assert(manifests == 3 && files > 0)
    // superseded sidecars are gone with the old snapshots
    assert(!fs.listStatus(dir("f")).exists(st => GraftDv.isDv(st.getPath.getName)))
    assert(spark.table("graft_mh.db.f").count() == 40)
  }

  test("restore rolls back delete state; purge destroys the bytes") {
    sql("""CREATE TABLE graft_mh.db.p (id BIGINT, v BIGINT)
          |TBLPROPERTIES ('merge-on-read'='true', 'history'='true')""".stripMargin)
    sql("INSERT INTO graft_mh.db.p SELECT id, id FROM range(0, 40)") // v2
    sql("DELETE FROM graft_mh.db.p WHERE id < 10") // v3 (the mistake)
    GraftMaintenance.restore(spark, TestTables.at(dir("p").toString), 2L) // v4
    assert(spark.table("graft_mh.db.p").count() == 40,
      "restore must roll back the deletion-vector state too")

    val p = GraftTable.load(spark, "graft_mh", "db.p")
    require(!GraftMaintenance.purgedCompletely(spark, p, "id % 8 = 2"))
    val erased = GraftMaintenance.purge(spark, "graft_mh", p, "id % 8 = 2")
    assert(erased == 5)
    assert(GraftMaintenance.purgedCompletely(spark, p, "id % 8 = 2"),
      "purged keys must not survive in any parquet byte")
    assert(spark.table("graft_mh.db.p").count() == 35)
  }

  test("append tail fails loudly on a DV commit and points at the change feed") {
    sql("""CREATE TABLE graft_mh.db.s (id BIGINT, v BIGINT)
          |TBLPROPERTIES ('merge-on-read'='true', 'history'='true')""".stripMargin)
    sql("INSERT INTO graft_mh.db.s SELECT id, id FROM range(0, 20)")
    val q = spark.readStream.table("graft_mh.db.s")
      .writeStream.format("memory").queryName("graft_morh_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      sql("DELETE FROM graft_mh.db.s WHERE id = 3")
      val e = intercept[Exception](q.processAllAvailable())
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(e).exists(m => m.contains("deletion") && m.contains(".changes")),
        s"expected a loud DV-commit refusal pointing at .changes, got: ${chain(e)}")
    } finally q.stop()
  }
}
