package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** PURGE (right to erasure): after the verb, the matching rows are gone
  * from EVERY parquet byte under the table dir — not merely hidden by the
  * current snapshot or a deletion vector — proven by brute-force raw
  * re-read. Past snapshots that referenced the bytes are expired.
  */
class GraftPurgeSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_purge_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_pg", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_pg.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_pg.db")
  }

  test("history table: purge erases bytes and expires resurrecting snapshots") {
    sql("""CREATE TABLE graft_pg.db.h (id BIGINT, who STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_pg.db.h VALUES (1,'keep'), (2,'erase'), (3,'keep')")
    sql("INSERT INTO graft_pg.db.h VALUES (4,'erase'), (5,'keep')")
    // a DELETE alone leaves the bytes reachable via time travel
    val h = GraftTable.load(spark, "graft_pg", "db.h")
    assert(!GraftMaintenance.purgedCompletely(spark, h, "who = 'erase'"))

    val n = GraftMaintenance.purge(spark, "graft_pg", h, "who = 'erase'")
    assert(n == 2)
    assert(GraftMaintenance.purgedCompletely(spark, h,
      "who = 'erase'"), "purged keys must be gone from every remaining byte")
    assert(sql("SELECT id FROM graft_pg.db.h ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L))
    // the snapshots that could resurrect the rows are expired
    intercept[Exception](
      sql("SELECT * FROM graft_pg.db.h VERSION AS OF 2").collect())
  }

  test("merge-on-read table: purge folds deletion vectors into rewritten files") {
    sql("""CREATE TABLE graft_pg.db.m (id BIGINT, who STRING)
          |TBLPROPERTIES('merge-on-read'='true')""".stripMargin)
    sql("INSERT INTO graft_pg.db.m VALUES (1,'keep'), (2,'erase'), (3,'keep')")
    // MOR DELETE alone leaves the bytes in place behind a DV mask
    sql("DELETE FROM graft_pg.db.m WHERE who = 'erase'")
    val m = GraftTable.load(spark, "graft_pg", "db.m")
    assert(!GraftMaintenance.purgedCompletely(spark, m,
      "who = 'erase'"), "a DV-masked row is hidden, not erased")

    val n = GraftMaintenance.purge(spark, "graft_pg", m, "who = 'erase'")
    assert(n == 0) // already hidden; purge destroys the bytes
    assert(GraftMaintenance.purgedCompletely(spark, m, "who = 'erase'"))
    assert(sql("SELECT count(*) FROM graft_pg.db.m").collect().head.getLong(0) == 2L)
  }
}
