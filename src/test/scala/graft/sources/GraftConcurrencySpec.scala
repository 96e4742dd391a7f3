package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** Optimistic concurrency on the history-table commit log: the exclusive
  * manifest create is the commit point; APPEND commits that lose the race
  * re-derive against the winner's snapshot and retry (additive updates
  * commute — the retry result is exactly the serial outcome), while
  * replace/truncate commits stay loud (their file list came from a
  * now-stale snapshot; blind retry is the lost-update bug).
  */
class GraftConcurrencySpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_conc_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_cc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cc.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cc.db")
  }

  private def fs(dir: Path) =
    dir.getFileSystem(spark.sessionState.newHadoopConf())

  test("append commit retries past a racing committer and loses nothing") {
    sql("""CREATE TABLE graft_cc.db.h (id BIGINT, v STRING)
          |TBLPROPERTIES ('history'='true')""".stripMargin)
    sql("INSERT INTO graft_cc.db.h SELECT id, concat('a', id) FROM range(0, 10)")
    val dir = new Path(s"$warehouse/db/h")
    val f = fs(dir)
    val v0 = GraftTable.manifestVersions(f, dir).last

    // simulate the race deterministically: between our read of the latest
    // manifest and our exclusive create, a "racing committer" wins the
    // next version with its own appended file
    var raced = false
    val committed = GraftTable.commitRetrying(f, dir) { head =>
      if (!raced) {
        raced = true
        GraftTable.commitRetrying(f, dir)(_.entries :+
          GraftTable.GraftEntry(new Path(dir, "part-racer.parquet").toString))
      }
      head.entries :+
        GraftTable.GraftEntry(new Path(dir, "part-mine.parquet").toString)
    }
    assert(committed == v0 + 2,
      s"retry must land on the version AFTER the racer's, got $committed")
    val finalList = GraftTable.readManifest(f, dir, committed)
      .map(p => new Path(p).getName)
    assert(finalList.contains("part-racer.parquet") &&
      finalList.contains("part-mine.parquet"),
      s"both commits' files must survive: $finalList")
    // and the pre-race files are still there
    assert(finalList.count(_.startsWith("part-")) >= 3)
  }

  test("append retry gives up loudly after maxRetries") {
    val dir = new Path(s"$warehouse/db/h")
    val f = fs(dir)
    var attempts = 0
    intercept[java.io.IOException] {
      GraftTable.commitRetrying(f, dir) { head =>
        // a pathological racer that always wins: pre-create the version
        // we are about to target
        attempts += 1
        GraftTable.commitRetrying(f, dir)(_.entries)
        head.entries
      }
    }
    assert(attempts == GraftTable.CommitRetries + 1,
      s"one first attempt plus ${GraftTable.CommitRetries} retries, got $attempts")
  }

  test("non-manifest IO errors are NOT retried") {
    // the "table dir" is a plain FILE: every write under it fails with a
    // genuine IO error, the target version never appears -> rethrow
    // immediately instead of spinning maxRetries times
    val dir = new Path(s"$warehouse/db/not_a_dir")
    val f = fs(dir)
    val out = f.create(dir, true); out.write(1); out.close()
    intercept[java.io.IOException] {
      GraftTable.commitRetrying(f, dir)(_.entries)
    }
  }

  test("two genuinely concurrent INSERT streams both commit, nothing lost") {
    sql("""CREATE TABLE graft_cc.db.h2 (id BIGINT, src STRING)
          |TBLPROPERTIES ('history'='true')""".stripMargin)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val rounds = 6
    val fa = Future {
      (0 until rounds).foreach { i =>
        sql(s"INSERT INTO graft_cc.db.h2 SELECT id, 'A' FROM range(${i * 10}, ${i * 10 + 10})")
      }
    }
    val fb = Future {
      (0 until rounds).foreach { i =>
        sql(s"INSERT INTO graft_cc.db.h2 SELECT id, 'B' FROM range(${i * 10}, ${i * 10 + 10})")
      }
    }
    Await.result(fa, 120.seconds)
    Await.result(fb, 120.seconds)
    // every row from both writers is in the final snapshot
    val got = sql("SELECT src, count(*) FROM graft_cc.db.h2 GROUP BY src")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("A" -> (rounds * 10L), "B" -> (rounds * 10L)),
      s"no committed row may be lost: $got")
  }

  test("replace (row-level) commits do not silently retry") {
    // a commit derived from one snapshot stays loud on a version
    // collision — the VALIDATED rebase (write-serializable replace) is
    // the only rewrite allowed to go around again, and only after proving
    // the racing commit left its read set untouched
    val dir = new Path(s"$warehouse/db/h")
    val f = fs(dir)
    val v = GraftTable.manifestVersions(f, dir).last
    intercept[IllegalStateException] {
      GraftTable.commitRetrying(f, dir)(GraftTable.singleShot("h") { _ =>
        GraftTable.commitRetrying(f, dir)(_ => Nil) // the racer takes v+1
        Nil
      })
    }
    assert(GraftTable.manifestVersions(f, dir).last == v + 1,
      "the refused commit must not land a version past the racer's")
  }

  test("write-serializable replace: rebases across a racing pure append") {
    sql("""CREATE TABLE graft_cc.db.ws (id BIGINT, v STRING)
          |TBLPROPERTIES ('history'='true')""".stripMargin)
    sql("INSERT INTO graft_cc.db.ws SELECT id, 'base' FROM range(0, 100)")
    // interpose an APPEND inside the DELETE's scan→commit window — the
    // deterministic version of a streaming ingest racing a long rewrite.
    // The appended batch even matches the DELETE predicate: rows the
    // DELETE's snapshot never saw must SURVIVE (WriteSerializable)
    val dir = new Path(s"$warehouse/db/ws")
    GraftTable.interposeOnce(dir)(
      sql("INSERT INTO graft_cc.db.ws SELECT id, 'raced' FROM range(1000, 1020)"))
    sql("DELETE FROM graft_cc.db.ws WHERE id % 10 = 3")
    assert(!GraftTable.interposePending(dir), "interposer must fire")
    val got = sql("SELECT v, count(*) FROM graft_cc.db.ws GROUP BY v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("base" -> 90L, "raced" -> 20L),
      s"the delete must apply to its snapshot AND the racing append must " +
        s"survive untouched: $got")
  }

  test("write-serializable replace: a racing rewrite of a read file fails loudly") {
    sql("""CREATE TABLE graft_cc.db.ws2 (id BIGINT, v STRING)
          |TBLPROPERTIES ('history'='true')""".stripMargin)
    sql("INSERT INTO graft_cc.db.ws2 SELECT id, 'base' FROM range(0, 100)")
    // the racing commit REWRITES rows in the same files the outer DELETE
    // read — committing the outer rewrite would resurrect them
    GraftTable.interposeOnce(new Path(s"$warehouse/db/ws2"))(
      sql("UPDATE graft_cc.db.ws2 SET v = 'won' WHERE id % 10 = 7"))
    val e = intercept[Exception] {
      sql("DELETE FROM graft_cc.db.ws2 WHERE id % 10 = 3")
    }
    assert(chain(e).exists(_.contains("concurrent update conflict")),
      s"expected a loud conflict, got: ${chain(e).mkString(" | ")}")
    // the racing UPDATE's effect is intact; the refused DELETE applied
    // nothing
    val got = sql("SELECT v, count(*) FROM graft_cc.db.ws2 GROUP BY v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("base" -> 90L, "won" -> 10L),
      s"the losing rewrite must leave no effect: $got")
    assertNoDebris(new Path(s"$warehouse/db/ws2"))
  }

  test("write-serializable replace: a row-id allocation race refuses, no debris") {
    sql("""CREATE TABLE graft_cc.db.rid (id BIGINT, v STRING)
          |TBLPROPERTIES ('history'='true', 'rowid'='true')""".stripMargin)
    sql("INSERT INTO graft_cc.db.rid SELECT id, 'base' FROM range(0, 100)")
    spark.range(50, 150).selectExpr("id", "'merged' AS v")
      .createOrReplaceTempView("rid_src")
    // the racing INSERT mints row ids inside the MERGE's scan→commit
    // window: it touches none of the files the MERGE read, but the ids
    // the MERGE's inserts minted were drawn against a stale watermark
    val dir = new Path(s"$warehouse/db/rid")
    GraftTable.interposeOnce(dir)(
      sql("INSERT INTO graft_cc.db.rid SELECT id, 'raced' FROM range(1000, 1010)"))
    val e = intercept[Exception] {
      sql("""MERGE INTO graft_cc.db.rid t USING rid_src s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET t.v = s.v
            |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    }
    assert(!GraftTable.interposePending(dir), "interposer must fire")
    assert(chain(e).exists(m => m.contains("row-id allocation") && m.contains("raced")),
      s"expected the row-id allocation race, got: ${chain(e).mkString(" | ")}")
    val got = sql("SELECT v, count(*) FROM graft_cc.db.rid GROUP BY v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("base" -> 100L, "raced" -> 10L),
      s"the refused MERGE must leave base plus the raced rows: $got")
    assertNoDebris(dir)
  }

  private def counts(t: String): Map[String, Long] =
    sql(s"SELECT v, count(*) FROM graft_cc.db.$t GROUP BY v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def chain(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)

  test("compaction rebases over an append interposed in its commit") {
    sql("""CREATE TABLE graft_cc.db.cf (id BIGINT, v STRING)
          |TBLPROPERTIES ('history'='true')""".stripMargin)
    sql("INSERT INTO graft_cc.db.cf SELECT id, 'base' FROM range(0, 50)")
    sql("INSERT INTO graft_cc.db.cf SELECT id, 'base' FROM range(50, 100)")
    val dir = new Path(s"$warehouse/db/cf")
    GraftTable.interposeOnce(dir)(
      sql("INSERT INTO graft_cc.db.cf SELECT id, 'raced' FROM range(1000, 1020)"))
    GraftMaintenance.compactTable(spark, TestTables.at(dir))
    assert(!GraftTable.interposePending(dir), "interposer must fire")
    val f = fs(dir)
    assert(GraftTable.commitKind(f, dir, GraftTable.readHead(f, dir, None).version)
      .contains(GraftTable.KindCompact), "the compaction must commit last")
    assert(counts("cf") == Map("base" -> 100L, "raced" -> 20L),
      s"the raced append must survive the compaction: ${counts("cf")}")
    assertNoDebris(dir)
  }

  test("day compaction rebases over an append interposed in its commit") {
    sql("""CREATE TABLE graft_cc.db.cd (id BIGINT, ts TIMESTAMP, v STRING)
          |PARTITIONED BY (days(ts)) TBLPROPERTIES ('history'='true')""".stripMargin)
    def rows(from: Int, to: Int, v: String) =
      sql(s"""INSERT INTO graft_cc.db.cd SELECT id, timestamp'2024-03-01 00:00:00'
             | + make_interval(0, 0, 0, CAST(id % 2 AS INT), 0, 0, 0), '$v'
             |FROM range($from, $to)""".stripMargin)
    rows(0, 50, "base")
    rows(50, 100, "base")
    val dir = new Path(s"$warehouse/db/cd")
    GraftTable.interposeOnce(dir)(rows(1000, 1020, "raced"))
    assert(GraftMaintenance.compactDayTable(spark, TestTables.at(dir)) == (4, 2))
    assert(!GraftTable.interposePending(dir), "interposer must fire")
    assert(counts("cd") == Map("base" -> 100L, "raced" -> 20L),
      s"the raced append must survive the compaction: ${counts("cd")}")
    assertNoDebris(dir)
  }

  test("compaction refuses when an interposed UPDATE rewrote a file it read") {
    sql("""CREATE TABLE graft_cc.db.cu (id BIGINT, v STRING)
          |TBLPROPERTIES ('history'='true')""".stripMargin)
    sql("INSERT INTO graft_cc.db.cu SELECT id, 'base' FROM range(0, 50)")
    sql("INSERT INTO graft_cc.db.cu SELECT id, 'base' FROM range(50, 100)")
    val dir = new Path(s"$warehouse/db/cu")
    GraftTable.interposeOnce(dir)(
      sql("UPDATE graft_cc.db.cu SET v = 'won' WHERE id % 10 = 7"))
    val e = intercept[Exception](GraftMaintenance.compactTable(spark, TestTables.at(dir)))
    assert(chain(e).exists(_.contains("concurrent update conflict")),
      s"expected a loud conflict, got: ${chain(e).mkString(" | ")}")
    assert(counts("cu") == Map("base" -> 90L, "won" -> 10L),
      s"the racing UPDATE must survive the refused compaction: ${counts("cu")}")
    assertNoDebris(dir)
  }

  test("merge-on-read DELETE refuses when an interposed compaction removed its files") {
    sql("""CREATE TABLE graft_cc.db.md (id BIGINT, v STRING)
          |TBLPROPERTIES ('history'='true', 'merge-on-read'='true')""".stripMargin)
    sql("INSERT INTO graft_cc.db.md SELECT id, 'base' FROM range(0, 50)")
    sql("INSERT INTO graft_cc.db.md SELECT id, 'base' FROM range(50, 100)")
    val dir = new Path(s"$warehouse/db/md")
    GraftTable.interposeOnce(dir)(GraftMaintenance.compactTable(spark, TestTables.at(dir)))
    val e = intercept[Exception](sql("DELETE FROM graft_cc.db.md WHERE id % 10 = 3"))
    assert(!GraftTable.interposePending(dir), "interposer must fire")
    assert(chain(e).exists(_.contains("concurrent update conflict")),
      s"expected a loud conflict, got: ${chain(e).mkString(" | ")}")
    assert(counts("md") == Map("base" -> 100L),
      s"the refused DELETE must apply nothing: ${counts("md")}")
    assertNoDebris(dir)
  }

  /** A refused commit leaves nothing behind: no data file outside every
    * retained manifest (fsck's `orphan_files`), and no stats-log entry
    * for one.
    */
  private def assertNoDebris(dir: Path): Unit = {
    val f = fs(dir)
    val orphans = GraftFsck.audit(spark, TestTables.at(dir))
      .find(_.check == "orphan_files").get.n
    assert(orphans == 0L, s"a refused commit must unland its files: $orphans orphans")
    val referenced = GraftTable.manifestVersions(f, dir)
      .flatMap(GraftTable.readFullEntries(f, dir, _))
      .map(e => new Path(e.file).getName).toSet
    val stray = GraftStats.readAll(f, dir).keySet -- referenced
    assert(stray.isEmpty, s"stats entries for unreferenced files: $stray")
  }
}
