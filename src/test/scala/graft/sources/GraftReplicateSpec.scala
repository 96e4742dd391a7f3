package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Incremental cross-warehouse replication (`graft_replicate`): the mirror
  * carries the COMMIT HISTORY (manifests, tags, branches), re-syncs are
  * O(delta) and idempotent, a crash leaves a readable history prefix, and
  * the refusal matrix (divergent mirror, shallow-clone source) stays loud.
  */
class GraftReplicateSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_rp_wh").toFile.getAbsolutePath
  private lazy val outside =
    Files.createTempDirectory("graft_rp_mir").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)
  private def fs =
    new Path(warehouse).getFileSystem(spark.sessionState.newHadoopConf())

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft_rp2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_rp2.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_rp2.db")
  }

  private def makeTable(name: String, n: Int): String = {
    sql(s"""CREATE TABLE graft_rp2.db.$name (id BIGINT, v STRING)
           |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, n).toDF("id").withColumn("v", concat(lit("r"), col("id")))
      .writeTo(s"graft_rp2.db.$name").append()
    s"$warehouse/db/$name"
  }

  test("mirror carries history: tags, branches, time travel; re-sync is " +
    "O(delta) and a no-change sync copies nothing") {
    val src = makeTable("h1", 200) // v1 create, v2 append
    sql("SELECT * FROM graft_tag('graft_rp2', 'db.h1', 'base')").collect()
    sql("UPDATE graft_rp2.db.h1 SET v = 'X' WHERE id % 10 = 3") // v3
    val mir = s"$outside/h1"

    val r1 = GraftReplicate.replicate(spark, TestTables.at(src), mir)
    assert(r1.versionsSynced == 3 && r1.bytesCopied > 0 &&
      r1.headVersion == 3, s"full first sync: $r1")
    // byte-faithful manifest log
    assert(GraftTable.manifestVersions(fs, new Path(mir)) == Seq(1L, 2L, 3L))
    // the tag resolves on the mirror and pins the pre-update state
    sql(s"SELECT * FROM graft_register('graft_rp2', 'db.m1', '$mir')").collect()
    assert(spark.sql(
      "SELECT count(*) FROM graft_rp2.db.m1 VERSION AS OF 'base' WHERE v = 'X'")
      .collect()(0).getLong(0) == 0)
    assert(spark.sql(
      "SELECT count(*) FROM graft_rp2.db.m1 WHERE v = 'X'")
      .collect()(0).getLong(0) == 20)

    // source moves on one commit; the re-sync ships exactly it
    sql("DELETE FROM graft_rp2.db.h1 WHERE id >= 150") // v4
    val r2 = GraftReplicate.replicate(spark, TestTables.at(src), mir)
    assert(r2.versionsSynced == 1 && r2.headVersion == 4, s"delta sync: $r2")
    assert(spark.table("graft_rp2.db.m1").count() == 150)

    // idempotence: nothing new -> zero files, zero bytes
    val r3 = GraftReplicate.replicate(spark, TestTables.at(src), mir)
    assert(r3.versionsSynced == 0 && r3.filesCopied == 0 &&
      r3.bytesCopied == 0, s"no-change sync must be free: $r3")
  }

  test("a crashed sync leaves a readable history prefix; the re-run heals") {
    val src = makeTable("h2", 120)
    sql("UPDATE graft_rp2.db.h2 SET v = 'Y' WHERE id < 10") // v3
    val mir = s"$outside/h2"
    GraftReplicate.replicate(spark, TestTables.at(src), mir)
    val mp = new Path(mir)
    // simulate dying between phase-4 copies: the newest manifest never
    // arrived (phase order guarantees everything it references DID)
    fs.delete(GraftTable.manifestPath(mp, 3L), false)
    val (v, entries) = GraftTable.headState(fs, mp, None)
    assert(v == 2L && entries.nonEmpty,
      "the truncated mirror must read as the previous version")
    val healed = GraftReplicate.replicate(spark, TestTables.at(src), mir)
    assert(healed.versionsSynced == 1 && healed.headVersion == 3L)
    assert(GraftTable.headState(fs, mp, None)._1 == 3L)
  }

  test("divergent mirror and shallow-clone source are refused loudly") {
    val a = makeTable("h3", 50)
    val b = makeTable("h4", 50)
    val mir = s"$outside/h3"
    GraftReplicate.replicate(spark, TestTables.at(a), mir)
    val e = intercept[IllegalArgumentException] {
      GraftReplicate.replicate(spark, TestTables.at(b), mir)
    }
    assert(e.getMessage.contains("diverges"), e.getMessage)

    GraftClone.clone(spark, TestTables.at(a), s"$warehouse/db/h3s",
      shallow = true)
    val e2 = intercept[IllegalArgumentException] {
      GraftReplicate.replicate(spark, TestTables.at(s"$warehouse/db/h3s"),
        s"$outside/h3s")
    }
    assert(e2.getMessage.contains("foreign"), e2.getMessage)
  }

  test("a same-length branch re-fork propagates (content, not length, " +
    "gates the branch record) and a source branch drop retires the " +
    "mirror's record") {
    val src = makeTable("h6", 40) // v1 create, v2 append
    val sp = new Path(src)
    GraftBranch.create(fs, sp, "dev") // record: dev -> 2
    val mir = s"$outside/h6"
    GraftReplicate.replicate(spark, TestTables.at(src), mir)
    assert(GraftBranch.readAll(fs, new Path(mir)) == Map("dev" -> 2L))

    // drop + advance one commit + re-fork: the record becomes 'dev\t3' —
    // SAME byte length as 'dev\t2', the exact shape a presence+length
    // gate silently skips, leaving branch reads at a stale fork base
    GraftBranch.drop(fs, sp, "dev")
    sql("UPDATE graft_rp2.db.h6 SET v = 'Z' WHERE id = 1") // v3
    GraftBranch.create(fs, sp, "dev") // record: dev -> 3
    GraftReplicate.replicate(spark, TestTables.at(src), mir)
    assert(GraftBranch.readAll(fs, new Path(mir)) == Map("dev" -> 3L),
      "the re-forked base must reach the mirror despite identical length")

    // head-state retirement: the source dropping its last branch must not
    // leave the mirror advertising a phantom one
    GraftBranch.drop(fs, sp, "dev")
    GraftReplicate.replicate(spark, TestTables.at(src), mir)
    assert(GraftBranch.readAll(fs, new Path(mir)).isEmpty,
      "mirror must retire the branches record the source deleted")
  }

  test("a sync costs exactly two listing calls, independent of file " +
    "count (flat recursive enumeration, not a per-directory walk)") {
    val src = makeTable("h8", 60)
    sql("UPDATE graft_rp2.db.h8 SET v = 'W' WHERE id % 7 = 0") // v3: more files
    val mir = s"$outside/h8"
    GraftReplicate.replicate(spark, TestTables.at(src), mir)
    val before = GraftReplicate.listingCalls.get()
    GraftReplicate.replicate(spark, TestTables.at(src), mir)
    assert(GraftReplicate.listingCalls.get() - before == 2,
      "one listFiles(recursive) per side — a regression to tree-walking " +
        "would be O(directories) serial RPCs at a real mirror")
  }

  test("divergence in a BRANCH namespace refuses the sync even when main " +
    "agrees") {
    val src = makeTable("h9", 30)
    val sp = new Path(src)
    GraftBranch.create(fs, sp, "dev")
    spark.range(100, 110).toDF("id")
      .withColumn("v", concat(lit("b"), col("id")))
      .writeTo("graft_rp2.db.h9.branch_dev").append() // branch commit v3
    val mir = s"$outside/h9"
    GraftReplicate.replicate(spark, TestTables.at(src), mir)
    val bm = GraftTable.manifestVersions(fs, new Path(mir), Some("dev")).last
    val p = GraftTable.manifestPath(new Path(mir), bm, Some("dev"))
    val out = fs.create(p, true)
    out.write("@_graft_segment_tampered.txt".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalArgumentException] {
      GraftReplicate.replicate(spark, TestTables.at(src), mir)
    }
    assert(e.getMessage.contains("branch 'dev'"), e.getMessage)
  }

  test("stale derivable metadata on the mirror is dropped, not shadowed") {
    val src = makeTable("h5", 80)
    val mir = s"$outside/h5"
    GraftReplicate.replicate(spark, TestTables.at(src), mir)
    // a stats twin the source no longer has (consolidation / re-key on
    // the source between syncs leaves exactly this shape on the mirror)
    val stale = new Path(mir, s"${GraftStats.StatsDirName}/stats-zzz-stale.txt")
    val out = fs.create(stale, true)
    out.write("bogus\n".getBytes("UTF-8")); out.close()
    GraftReplicate.replicate(spark, TestTables.at(src), mir)
    assert(!fs.exists(stale),
      "re-sync must drop metadata-dir files the source does not have")
  }
}
