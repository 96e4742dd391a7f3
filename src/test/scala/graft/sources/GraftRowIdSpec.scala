package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Row lineage (`_row_id`): stable per-row identifiers assigned once at
  * first insert and preserved through every rewrite of the row's bytes —
  * COW UPDATE/MERGE, MOR delete/update/merge deltas, compaction, DV
  * materialization, time travel — plus the refusal matrix and watermark
  * durability across commits. The Iceberg-v3 row-lineage contract on this
  * catalog's machinery (materialized hidden column, not positional).
  */
class GraftRowIdSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_rowid_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_rid", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_rid.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_rid.db")
  }

  private def ids(table: String): Map[Long, Long] =
    spark.table(table).select(col("k"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("appends mint unique ids from 1; watermark survives commits") {
    sql("""CREATE TABLE graft_rid.db.t (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin)
    // multi-task write: strided allocation must stay collision-free
    spark.range(0, 500).toDF("k").repartition(8)
      .withColumn("v", concat(lit("a"), col("k")))
      .writeTo("graft_rid.db.t").append()
    val t1 = spark.table("graft_rid.db.t").select("_row_id")
    assert(t1.count() == 500)
    assert(t1.distinct().count() == 500, "row ids must be unique")
    assert(t1.agg(min("_row_id")).collect()(0).getLong(0) == 1L)
    val max1 = t1.agg(max("_row_id")).collect()(0).getLong(0)
    // a second commit allocates ABOVE the persisted watermark
    sql("INSERT INTO graft_rid.db.t VALUES (1000, 'x'), (1001, 'y')")
    val t2 = spark.table("graft_rid.db.t").select("_row_id")
    assert(t2.count() == 502 && t2.distinct().count() == 502)
    assert(spark.table("graft_rid.db.t").where(col("k") >= 1000)
      .agg(min("_row_id")).collect()(0).getLong(0) > max1,
      "post-watermark inserts must mint fresh ids, never reuse")
    // _row_id is a metadata column, not part of the logical schema
    assert(!spark.table("graft_rid.db.t").columns.contains("_row_id"))
    assert(spark.table("graft_rid.db.t").schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("COW UPDATE and MERGE preserve ids; merge-inserts mint fresh") {
    sql("""CREATE TABLE graft_rid.db.cow (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin)
    sql("INSERT INTO graft_rid.db.cow SELECT id, concat('v', id) FROM range(0, 100)")
    val before = ids("graft_rid.db.cow")
    val wm = before.values.max
    // COW UPDATE rewrites whole files — every row's id must survive
    sql("UPDATE graft_rid.db.cow SET v = concat(v, '!') WHERE k % 3 = 0")
    val afterUpd = ids("graft_rid.db.cow")
    assert(afterUpd == before,
      "COW UPDATE must carry every row's id (touched and untouched alike)")
    // COW MERGE: matched rows keep ids, not-matched rows mint above wm
    spark.range(50, 150).toDF("k")
      .withColumn("v", lit("m")).createOrReplaceTempView("cow_src")
    sql("""MERGE INTO graft_rid.db.cow t USING cow_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET t.v = s.v
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val afterMerge = ids("graft_rid.db.cow")
    assert(afterMerge.size == 150)
    before.foreach { case (k, id) =>
      assert(afterMerge(k) == id, s"row k=$k lost its id in a COW MERGE") }
    (100L until 150L).foreach { k =>
      assert(afterMerge(k) > wm, s"merge-inserted row k=$k must mint above $wm") }
    assert(afterMerge.values.toSeq.distinct.size == 150)
  }

  test("MOR delete/update/merge deltas preserve ids; DELETE drops only its rows") {
    sql("""CREATE TABLE graft_rid.db.mor (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true','rowid'='true','mor'='true')""".stripMargin)
    sql("INSERT INTO graft_rid.db.mor SELECT id, concat('v', id) FROM range(0, 100)")
    val before = ids("graft_rid.db.mor")
    val wm = before.values.max
    // MOR DELETE: a DV sidecar — survivor ids untouched
    sql("DELETE FROM graft_rid.db.mor WHERE k < 10")
    val afterDel = ids("graft_rid.db.mor")
    assert(afterDel.keySet == (10L until 100L).toSet)
    afterDel.foreach { case (k, id) => assert(before(k) == id) }
    // MOR UPDATE: delete+reinsert — the reinsert must CARRY the id
    sql("UPDATE graft_rid.db.mor SET v = 'u' WHERE k BETWEEN 20 AND 29")
    val afterUpd = ids("graft_rid.db.mor")
    assert(afterUpd == afterDel,
      "MOR update-reinsert must carry the original _row_id")
    // MOR MERGE: matched update carries, not-matched insert mints
    spark.range(95, 120).toDF("k").withColumn("v", lit("m"))
      .createOrReplaceTempView("mor_src")
    sql("""MERGE INTO graft_rid.db.mor t USING mor_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET t.v = s.v
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val afterMerge = ids("graft_rid.db.mor")
    assert(afterMerge.size == 110)
    afterDel.foreach { case (k, id) => assert(afterMerge(k) == id) }
    (100L until 120L).foreach(k => assert(afterMerge(k) > wm))
    assert(afterMerge.values.toSeq.distinct.size == 110)
  }

  test("compaction and DV materialization carry ids verbatim") {
    sql("""CREATE TABLE graft_rid.db.cmp (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true','rowid'='true','mor'='true')""".stripMargin)
    // several small commits → several small files
    (0 until 5).foreach { i =>
      sql(s"INSERT INTO graft_rid.db.cmp SELECT id, 'v' FROM range(${i * 20}, ${i * 20 + 20})")
    }
    sql("DELETE FROM graft_rid.db.cmp WHERE k % 7 = 0")
    val before = ids("graft_rid.db.cmp")
    val dir = s"$warehouse/db/cmp"
    GraftMaintenance.materializeDeletes(spark, TestTables.at(dir))
    assert(ids("graft_rid.db.cmp") == before,
      "DV materialization rewrote files — ids must ride the rewrite")
    val (nBefore, nAfter) = GraftMaintenance.compactTable(spark, TestTables.at(dir))
    assert(nBefore > nAfter, s"compaction must shrink files ($nBefore -> $nAfter)")
    assert(ids("graft_rid.db.cmp") == before,
      "compaction rewrote files — ids must ride the rewrite")
    // post-compaction inserts still mint above the watermark
    val wm = before.values.max
    sql("INSERT INTO graft_rid.db.cmp VALUES (777, 'w')")
    assert(ids("graft_rid.db.cmp")(777L) > wm)
  }

  test("time travel serves each snapshot's own ids") {
    sql("""CREATE TABLE graft_rid.db.tt (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin)
    sql("INSERT INTO graft_rid.db.tt VALUES (1, 'a'), (2, 'b')")
    val v1 = ids("graft_rid.db.tt")
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/tt")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val snapV = GraftTable.manifestVersions(fs, dir).last
    sql("UPDATE graft_rid.db.tt SET v = 'a2' WHERE k = 1")
    sql("INSERT INTO graft_rid.db.tt VALUES (3, 'c')")
    val now = ids("graft_rid.db.tt")
    assert(now(1L) == v1(1L) && now(2L) == v1(2L))
    val past = spark.sql(
      s"SELECT k, _row_id FROM graft_rid.db.tt VERSION AS OF $snapV")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(past == v1, "VERSION AS OF must serve the snapshot's ids")
  }

  test("refusal matrix: no history, reserved name, late opt-in, explicit write") {
    // rowid without history
    val e1 = intercept[Exception](sql(
      "CREATE TABLE graft_rid.db.r1 (k BIGINT) TBLPROPERTIES('rowid'='true')"))
    assert(e1.getMessage.contains("history"))
    // a declared column named _row_id
    val e2 = intercept[Exception](sql(
      """CREATE TABLE graft_rid.db.r2 (k BIGINT, _row_id BIGINT)
        |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin))
    assert(e2.getMessage.contains("reserved"))
    // late opt-in on an existing table
    sql("CREATE TABLE graft_rid.db.r3 (k BIGINT) TBLPROPERTIES('history'='true')")
    intercept[Exception](sql(
      "ALTER TABLE graft_rid.db.r3 SET TBLPROPERTIES('rowid'='true')"))
    // writing the metadata column explicitly is not a thing: INSERT with
    // an extra column fails schema validation
    sql("""CREATE TABLE graft_rid.db.r4 (k BIGINT)
          |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin)
    intercept[Exception](sql(
      "INSERT INTO graft_rid.db.r4 (k, _row_id) VALUES (1, 99)"))
  }

  test("branch, clone and restore compose with the id watermark") {
    sql("""CREATE TABLE graft_rid.db.br (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin)
    sql("INSERT INTO graft_rid.db.br SELECT id, 'a' FROM range(0, 50)")
    val main0 = ids("graft_rid.db.br")
    val wm = main0.values.max
    // branch writes mint ABOVE the main watermark (idwm: rides the
    // branch base) and stay invisible to main
    sql("SELECT * FROM graft_branch('graft_rid', 'db.br', 'wip')").collect()
    spark.range(100, 120).toDF("k").withColumn("v", lit("b"))
      .writeTo("graft_rid.db.br.branch_wip").append()
    val branchIds = spark.table("graft_rid.db.br.branch_wip")
      .select(col("k"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    main0.foreach { case (k, id) => assert(branchIds(k) == id) }
    (100L until 120L).foreach(k => assert(branchIds(k) > wm,
      s"branch-minted id for k=$k must clear the base watermark $wm"))
    assert(ids("graft_rid.db.br") == main0, "main unchanged by branch writes")
    // fast-forward publishes the branch ids verbatim; mints continue above
    sql("SELECT * FROM graft_fastforward('graft_rid', 'db.br', 'wip')").collect()
    val main1 = ids("graft_rid.db.br")
    assert(main1 == branchIds)
    sql("INSERT INTO graft_rid.db.br VALUES (999, 'z')")
    assert(ids("graft_rid.db.br")(999L) > branchIds.values.max)
    // clone: ids ride verbatim and the clone's watermark is the source's
    sql("SELECT * FROM graft_clone('graft_rid', 'db.br', 'db.br2', 'shallow')").collect()
    val cloneIds = spark.table("graft_rid.db.br2")
      .select(col("k"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cloneIds == ids("graft_rid.db.br"))
    sql("INSERT INTO graft_rid.db.br2 VALUES (1000, 'c')")
    val cloneAfter = spark.table("graft_rid.db.br2")
      .select(col("k"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cloneAfter(1000L) > cloneIds.values.max,
      "clone-side mints must clear the cloned watermark, never collide")
    // restore: a rollback serves the restored snapshot's ids, and the
    // watermark does NOT roll back (restore carries idwm: forward), so
    // post-restore inserts never reuse rolled-back ids
    val preRestore = ids("graft_rid.db.br")
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/br")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val target = GraftTable.manifestVersions(fs, dir).dropRight(1).last
    sql(s"SELECT * FROM graft_restore('graft_rid', 'db.br', $target)").collect()
    val restored = ids("graft_rid.db.br")
    assert(!restored.contains(999L) && restored.size == preRestore.size - 1)
    restored.foreach { case (k, id) => assert(preRestore(k) == id) }
    sql("INSERT INTO graft_rid.db.br VALUES (77, 'n')")
    assert(ids("graft_rid.db.br")(77L) > preRestore.values.max,
      "post-restore mints must clear the pre-restore watermark")
  }

  test("graft_row_diff classifies by id: insert/delete/update, compaction silent") {
    graft.GraftExtensions.register(spark)
    sql("""CREATE TABLE graft_rid.db.dif (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin)
    sql("INSERT INTO graft_rid.db.dif SELECT id, concat('v', id) FROM range(0, 100)")
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/dif")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    def headV = GraftTable.manifestVersions(fs, dir).last
    val v1 = headV
    // one COW update, one delete, one insert between v1 and head
    sql("UPDATE graft_rid.db.dif SET v = 'u' WHERE k BETWEEN 10 AND 19")
    sql("DELETE FROM graft_rid.db.dif WHERE k < 5")
    sql("INSERT INTO graft_rid.db.dif VALUES (200, 'n'), (201, 'n')")
    val v2 = headV
    val d = spark.sql(
      s"SELECT * FROM graft_row_diff('graft_rid', 'db.dif', $v1, $v2)")
    val byType = d.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 2L, "delete" -> 5L,
      "update_preimage" -> 10L, "update_postimage" -> 10L), s"got $byType")
    // updates pair up on the SAME id with before/after images
    val upd = d.where(col("_change_type").startsWith("update"))
      .groupBy("_row_id").agg(countDistinct("v").as("imgs"), count(lit(1)).as("n"))
      .collect()
    assert(upd.length == 10 && upd.forall(r => r.getLong(1) == 2 && r.getLong(2) == 2))
    // deleted ids surface the BEFORE image
    assert(d.where(col("_change_type") === "delete")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))
    // compaction between two versions is change-free by construction
    GraftMaintenance.compactTable(spark, TestTables.at(s"$warehouse/db/dif"))
    val v3 = headV
    assert(spark.sql(
      s"SELECT * FROM graft_row_diff('graft_rid', 'db.dif', $v2, $v3)")
      .count() == 0, "a compaction commit must diff to nothing")
    // MOR deltas classify identically (delete via DV, update via reinsert)
    sql("""CREATE TABLE graft_rid.db.difm (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true','rowid'='true','mor'='true')""".stripMargin)
    sql("INSERT INTO graft_rid.db.difm SELECT id, 'a' FROM range(0, 50)")
    val mdir = new org.apache.hadoop.fs.Path(s"$warehouse/db/difm")
    val m1 = GraftTable.manifestVersions(fs, mdir).last
    sql("DELETE FROM graft_rid.db.difm WHERE k >= 45")
    sql("UPDATE graft_rid.db.difm SET v = 'b' WHERE k < 3")
    val m2 = GraftTable.manifestVersions(fs, mdir).last
    val md = spark.sql(
      s"SELECT * FROM graft_row_diff('graft_rid', 'db.difm', $m1, $m2)")
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(md == Map("delete" -> 5L,
      "update_preimage" -> 3L, "update_postimage" -> 3L), s"got $md")
    // tag names resolve as version bounds, same as time travel
    sql(s"SELECT * FROM graft_tag('graft_rid', 'db.dif', 'pre', $v1)").collect()
    sql(s"SELECT * FROM graft_tag('graft_rid', 'db.dif', 'post', $v2)").collect()
    val byTag = spark.sql(
      "SELECT * FROM graft_row_diff('graft_rid', 'db.dif', 'pre', 'post')")
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTag == byType, "tag bounds must diff identically to versions")
    // TIMESTAMP bounds resolve through the TIMESTAMP AS OF at-or-before
    // rule — the commits' own wall-clock times address the same diff
    val ts = spark.sql(
      s"""SELECT version, committed_at
         |FROM graft_history('graft_rid', 'db.dif')
         |WHERE version IN ($v1, $v2)""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byTs = spark.sql(
      s"""SELECT * FROM graft_row_diff('graft_rid', 'db.dif',
         |  '${new java.sql.Timestamp(ts(v1))}',
         |  '${new java.sql.Timestamp(ts(v2))}')""".stripMargin)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTs == byType, "timestamp bounds must diff identically")
    // a string that is neither a tag nor a timestamp refuses with BOTH
    // resolutions named
    val eTs = intercept[Exception](spark.sql(
      "SELECT * FROM graft_row_diff('graft_rid', 'db.dif', 'nope', 'post')")
      .collect())
    assert(eTs.getMessage.contains("neither a tag") &&
      eTs.getMessage.contains("timestamp"), eTs.getMessage)
    // a pre-first-commit timestamp refuses loudly
    val eEarly = intercept[Exception](spark.sql(
      "SELECT * FROM graft_row_diff('graft_rid', 'db.dif', " +
        "'1999-01-01 00:00:00', 'post')").collect())
    assert(eEarly.getMessage.contains("at or before"), eEarly.getMessage)
    // refusals: non-lineage table, unretained version
    sql("CREATE TABLE graft_rid.db.plain (k BIGINT) TBLPROPERTIES('history'='true')")
    sql("INSERT INTO graft_rid.db.plain VALUES (1)")
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_row_diff('graft_rid', 'db.plain', 1, 2)").collect())
    assert(e.getMessage.contains("row-lineage"))
    intercept[Exception](spark.sql(
      s"SELECT * FROM graft_row_diff('graft_rid', 'db.dif', $v1, 99999)").collect())
  }

  test("the changes feed carries stable row identity on lineage tables") {
    sql("""CREATE TABLE graft_rid.db.cdc (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin)
    sql("INSERT INTO graft_rid.db.cdc SELECT id, concat('v', id) FROM range(0, 40)")
    val baseIds = ids("graft_rid.db.cdc")
    // WHERE-less COW update: every file rewrites, evens change payload
    sql("UPDATE graft_rid.db.cdc SET v = CASE WHEN k % 2 = 0 THEN 'u' ELSE v END")
    val ch = spark.table("graft_rid.db.cdc.changes")
    assert(ch.schema.fieldNames.toSeq ==
      Seq("k", "v", "_row_id", "_change_type", "_commit_version"))
    val updV = ch.agg(max("_commit_version")).collect()(0).getLong(0)
    // fold the rewrite commit's images by id: same id + same payload =
    // carried, same id + differing payload = a genuine update — the
    // correlation ONLY stable row identity makes possible
    val net = ch.where(col("_commit_version") === updV)
      .groupBy("_row_id")
      .agg(max(when(col("_change_type") === "insert", col("v"))).as("after_v"),
        max(when(col("_change_type") === "delete", col("v"))).as("before_v"),
        first("k").as("k"))
    val classes = net.select(col("k"),
        when(col("before_v").isNull, "insert")
          .when(col("after_v").isNull, "delete")
          .when(col("before_v") === col("after_v"), "carried")
          .otherwise("update").as("net"))
      .groupBy("net").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(classes == Map("update" -> 20L, "carried" -> 20L), s"got $classes")
    // the ids in the feed are the TABLE's ids, verbatim
    val feedIds = ch.where(col("_commit_version") === updV &&
        col("_change_type") === "insert")
      .select(col("k"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(feedIds == baseIds)
  }

  test("WAP and CTAS route lineage rows through the writer (no NULL-id files)") {
    import spark.implicits._
    // WAP on a FLAT lineage table must NOT fast-path-move the staged
    // plain parquet in (it has no _row_id column) — it re-routes through
    // the catalog writer, which mints
    sql("""CREATE TABLE graft_rid.db.wapt (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin)
    sql("INSERT INTO graft_rid.db.wapt SELECT id, 'a' FROM range(0, 20)")
    val wm = spark.table("graft_rid.db.wapt")
      .agg(max("_row_id")).collect()(0).getLong(0)
    val batch = (100L until 130L).map(i => (i, s"w$i")).toDF("k", "v")
    val token = GraftWap.stage(spark, "graft_rid", "db.wapt", batch)
    GraftWap.publish(spark, "graft_rid", "db.wapt", token)
    val t = spark.table("graft_rid.db.wapt").select("k", "_row_id")
    assert(t.count() == 50)
    assert(t.where(col("_row_id").isNull).count() == 0,
      "WAP-published rows must carry minted ids, never NULL")
    assert(t.select("_row_id").distinct().count() == 50)
    assert(t.where(col("k") >= 100).agg(min("_row_id")).collect()(0).getLong(0) > wm)
    // CTAS with the rowid property writes through the staged table's
    // full write stack — ids minted at birth
    sql("""CREATE TABLE graft_rid.db.ct
          |TBLPROPERTIES('history'='true','rowid'='true')
          |AS SELECT id AS k, concat('c', id) AS v FROM range(0, 25)""".stripMargin)
    val ct = spark.table("graft_rid.db.ct").select("_row_id")
    assert(ct.count() == 25 && ct.distinct().count() == 25)
    assert(spark.table("graft_rid.db.ct").where(col("_row_id").isNull).count() == 0)
  }

  test("ids survive a streaming sink's epochs without reuse") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    sql("""CREATE TABLE graft_rid.db.st (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin)
    val mem = MemoryStream[Long]
    val q = mem.toDF().select(col("value").as("k"), lit("s").as("v"))
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_rid_ck").toString)
      .toTable("graft_rid.db.st")
    try {
      mem.addData(1L to 50L: _*)
      q.processAllAvailable()
      mem.addData(51L to 80L: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("graft_rid.db.st").select("_row_id")
    assert(got.count() == 80)
    assert(got.distinct().count() == 80,
      "streamed epochs must mint unique ids across micro-batches")
  }

  test("equality-delete upsert carries ids: updated keys KEEP their id, " +
    "only genuinely new keys mint, diff classifies updates as updates") {
    graft.GraftExtensions.register(spark)
    import spark.implicits._
    sql("""CREATE TABLE graft_rid.db.equ (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin)
    sql("INSERT INTO graft_rid.db.equ SELECT id, concat('v', id) FROM range(0, 100)")
    val before = ids("graft_rid.db.equ")
    val wm = before.values.max
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/equ")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val v1 = GraftTable.manifestVersions(fs, dir).last
    // 3 updates + 2 genuine inserts, ONE O(change-set) eqdelta commit
    GraftEqDelete.upsert(spark, "graft_rid", "db.equ",
      Seq((10L, "u10"), (20L, "u20"), (30L, "u30"), (500L, "n1"), (501L, "n2"))
        .toDF("k", "v"), Seq("k"))
    val after = ids("graft_rid.db.equ")
    assert(after.size == 102 &&
      after.values.toSeq.distinct.size == 102, "ids must stay unique")
    Seq(10L, 20L, 30L).foreach(k =>
      assert(after(k) == before(k), s"upsert of existing k=$k re-minted"))
    (before.keySet -- Set(10L, 20L, 30L)).foreach(k =>
      assert(after(k) == before(k), s"untouched k=$k changed id"))
    Seq(500L, 501L).foreach(k =>
      assert(after(k) > wm, s"new key k=$k must mint above the watermark"))
    assert(spark.table("graft_rid.db.equ").where(col("k") === 10L)
      .collect().head.getString(1) == "u10", "LWW value must win")
    // the watermark advanced by exactly the number of MINTS (2), riding
    // the eqdelta manifest
    assert(GraftRowId.watermark(
      GraftTable.readHead(fs, dir, None).meta) == wm + 2)
    // row diff classifies by id: the 3 carried ids pair as updates, the
    // 2 minted ids are inserts — no phantom delete+insert churn
    val v2 = GraftTable.manifestVersions(fs, dir).last
    val byType = spark.sql(
      s"SELECT * FROM graft_row_diff('graft_rid', 'db.equ', $v1, $v2)")
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 2L,
      "update_preimage" -> 3L, "update_postimage" -> 3L), s"got $byType")
    // an update-only upsert mints nothing: watermark carried unchanged
    GraftEqDelete.upsert(spark, "graft_rid", "db.equ",
      Seq((10L, "uu")).toDF("k", "v"), Seq("k"))
    assert(GraftRowId.watermark(
      GraftTable.readHead(fs, dir, None).meta) == wm + 2)
    val after2 = ids("graft_rid.db.equ")
    assert(after2 == after, "a pure-update upsert must not move any id")
    // folding the eq masks into rewritten files carries ids verbatim
    GraftEqDelete.materializeEqDeletes(spark, TestTables.at(s"$warehouse/db/equ"))
    assert(ids("graft_rid.db.equ") == after2,
      "materializeEqDeletes must preserve the hidden id column")
  }
}
