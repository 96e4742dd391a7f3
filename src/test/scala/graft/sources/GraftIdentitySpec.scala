package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Identity columns: engine-assigned surrogate keys. Uniqueness across
  * multi-task writes, omitted/DEFAULT/NULL inserts, GENERATED ALWAYS vs
  * BY DEFAULT, watermark persistence across commits and vacuum, START/
  * STEP arithmetic, rewrite preservation, and the refusal matrix.
  */
class GraftIdentitySpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_id_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_id", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_id.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_id.db")
  }

  test("generated values are unique, start at START, and survive commits") {
    sql("""CREATE TABLE graft_id.db.t
          |(id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    // multi-partition write: tasks allocate disjoint strides
    spark.range(0, 1000).toDF("n").repartition(8)
      .select(concat(lit("a"), col("n")).as("v"))
      .writeTo("graft_id.db.t").append()
    val t1 = spark.table("graft_id.db.t")
    assert(t1.count() == 1000)
    assert(t1.select("id").distinct().count() == 1000, "ids must be unique")
    assert(t1.agg(min("id")).collect()(0).getLong(0) == 1L, "START WITH 1")
    assert(t1.where(col("id").isNull).count() == 0)
    val max1 = t1.agg(max("id")).collect()(0).getLong(0)
    // second commit continues past the watermark — never reuses
    sql("INSERT INTO graft_id.db.t (v) VALUES ('x'), ('y')")
    val t2 = spark.table("graft_id.db.t")
    assert(t2.count() == 1002)
    assert(t2.select("id").distinct().count() == 1002)
    assert(t2.agg(max("id")).collect()(0).getLong(0) > max1)
    // omitted / DEFAULT / NULL all generate
    sql("INSERT INTO graft_id.db.t VALUES (DEFAULT, 'd'), (NULL, 'n')")
    val t3 = spark.table("graft_id.db.t")
    assert(t3.count() == 1004 && t3.select("id").distinct().count() == 1004)
    assert(t3.where(col("id").isNull).count() == 0)
  }

  test("GENERATED ALWAYS refuses explicit values; BY DEFAULT admits them") {
    intercept[Exception](
      sql("INSERT INTO graft_id.db.t VALUES (999999, 'boom')"))
    sql("""CREATE TABLE graft_id.db.bd
          |(id BIGINT GENERATED BY DEFAULT AS IDENTITY, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_id.db.bd VALUES (100, 'explicit')")
    sql("INSERT INTO graft_id.db.bd (v) VALUES ('gen')")
    val rows = spark.table("graft_id.db.bd").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(100L) == "explicit")
    assert(rows.keySet.contains(1L), "generated id starts at 1")
  }

  test("START WITH / STEP arithmetic, including negative step") {
    sql("""CREATE TABLE graft_id.db.st
          |(id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1000 INCREMENT BY 10),
          | v STRING) TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_id.db.st (v) VALUES ('a'), ('b'), ('c')")
    val ids = spark.table("graft_id.db.st").collect().map(_.getLong(0)).sorted
    assert(ids.head == 1000L, s"first id must be START, got ${ids.head}")
    assert(ids.forall(i => (i - 1000L) % 10 == 0), "ids on the step lattice")
    assert(ids.distinct.length == 3)
    sql("""CREATE TABLE graft_id.db.neg
          |(id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 0 INCREMENT BY -5),
          | v STRING) TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_id.db.neg (v) VALUES ('a'), ('b')")
    sql("INSERT INTO graft_id.db.neg (v) VALUES ('c')")
    val nids = spark.table("graft_id.db.neg").collect().map(_.getLong(0))
    assert(nids.max == 0L && nids.distinct.length == 3 &&
      nids.forall(i => i % 5 == 0 && i <= 0))
  }

  test("rewrites preserve ids; vacuum keeps the watermark") {
    sql("""CREATE TABLE graft_id.db.rw
          |(id BIGINT GENERATED ALWAYS AS IDENTITY, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 100).toDF("v").writeTo("graft_id.db.rw").append()
    val before = spark.table("graft_id.db.rw").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // COW UPDATE rewrites affected files — ids must not regenerate
    sql("UPDATE graft_id.db.rw SET v = v + 1000 WHERE v < 50")
    val after = spark.table("graft_id.db.rw").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.keySet == before.keySet, "rewrite must preserve ids")
    assert(after.count { case (_, v) => v >= 1000 } == 50)
    // vacuum away old snapshots; the carried watermark still advances
    GraftMaintenance.vacuum(spark, TestTables.at(s"$warehouse/db/rw"), keepLast = 1)
    sql("INSERT INTO graft_id.db.rw (v) VALUES (7777)")
    val t = spark.table("graft_id.db.rw")
    assert(t.select("id").distinct().count() == t.count(),
      "id uniqueness must survive vacuum (watermark carried forward)")
  }

  test("refusal matrix: non-history, layout column, two identities") {
    intercept[Exception](sql(
      """CREATE TABLE graft_id.db.plain
        |(id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)""".stripMargin))
    intercept[Exception](sql(
      """CREATE TABLE graft_id.db.lay
        |(id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)
        |PARTITIONED BY (id) TBLPROPERTIES('history'='true')""".stripMargin))
    intercept[Exception](sql(
      """CREATE TABLE graft_id.db.two
        |(a BIGINT GENERATED ALWAYS AS IDENTITY,
        | b BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)
        |TBLPROPERTIES('history'='true')""".stripMargin))
  }

  test("merge-on-read: MERGE inserts allocate, updates carry their key") {
    sql("""CREATE TABLE graft_id.db.mor
          |(id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true','merge-on-read'='true')""".stripMargin)
    sql("INSERT INTO graft_id.db.mor (k, v) SELECT id, id * 10 FROM range(0, 50)")
    val before = spark.table("graft_id.db.mor").collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap // k -> id
    assert(before.size == 50 && before.values.toSet.size == 50)
    // source updates k<20 (v bump) and inserts k in [50, 70)
    spark.range(0, 70).filter("id < 20 OR id >= 50")
      .selectExpr("id AS k", "id * 10 + 1 AS v")
      .createOrReplaceTempView("mor_src")
    sql("""MERGE INTO graft_id.db.mor t USING mor_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val after = spark.table("graft_id.db.mor").collect()
      .map(r => (r.getLong(1), (r.getLong(0), r.getLong(2)))).toMap
    assert(after.size == 70)
    // updated rows KEPT their surrogate key — the delta reinsert carries it
    (0L until 20L).foreach { k =>
      assert(after(k)._1 == before(k), s"update must not re-key k=$k")
      assert(after(k)._2 == k * 10 + 1)
    }
    // genuine inserts got fresh, globally unique keys past the watermark
    val ids = after.values.map(_._1).toSeq
    assert(ids.distinct.size == 70, "identity uniqueness across the MERGE")
    // the advanced watermark rides the delta manifest: a later plain
    // append cannot collide with the MERGE-allocated keys
    sql("INSERT INTO graft_id.db.mor (k, v) VALUES (999, 0)")
    val t = spark.table("graft_id.db.mor")
    assert(t.select("id").distinct().count() == t.count())
    // GENERATED ALWAYS still refuses explicit values on the MERGE path
    spark.sql("SELECT CAST(5 AS BIGINT) AS id, CAST(1000 AS BIGINT) AS k, " +
      "CAST(0 AS BIGINT) AS v").createOrReplaceTempView("mor_bad")
    val e = intercept[Exception](sql(
      """MERGE INTO graft_id.db.mor t USING mor_bad s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (id, k, v) VALUES (s.id, s.k, s.v)""".stripMargin))
    assert(e.getMessage != null)
    // MOR UPDATE (delete+reinsert deltas) keeps every key too
    sql("UPDATE graft_id.db.mor SET v = v + 1000 WHERE k < 10")
    val upd = spark.table("graft_id.db.mor").collect()
      .map(r => (r.getLong(1), r.getLong(0))).toMap
    (0L until 10L).foreach { k =>
      assert(upd(k) == before(k), s"MOR UPDATE must not re-key k=$k") }
  }

  test("SYNC IDENTITY: explicit BY DEFAULT inserts catch the watermark up") {
    graft.GraftExtensions.register(spark)
    sql("""CREATE TABLE graft_id.db.sync
          |(id BIGINT GENERATED BY DEFAULT AS IDENTITY, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_id.db.sync VALUES (500, 'explicit-high')")
    // without a sync, generated values would start at 1 — fine — but a
    // user can collide with 500 later; sync moves the watermark past it
    val r = sql("SELECT * FROM graft_sync_identity('graft_id', 'db.sync')")
      .collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 500L,
      s"watermark must advance 0 -> 500, got ${r.getLong(0)} -> ${r.getLong(1)}")
    sql("INSERT INTO graft_id.db.sync (v) VALUES ('gen')")
    val ids = spark.table("graft_id.db.sync").collect().map(_.getLong(0))
    assert(ids.distinct.length == 2 && ids.max > 500L,
      s"post-sync generation must continue past 500, got ${ids.toSeq}")
    // idempotent: a second sync is a no-op (no new commit)
    val (fs, dir) = {
      val p = new org.apache.hadoop.fs.Path(s"$warehouse/db/sync")
      (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    }
    val vs = GraftTable.manifestVersions(fs, dir)
    sql("SELECT * FROM graft_sync_identity('graft_id', 'db.sync')").collect()
    assert(GraftTable.manifestVersions(fs, dir) == vs,
      "an already-synced table must not commit")
  }

  test("identity composes with branches: fork inherits, publish carries") {
    graft.GraftExtensions.register(spark)
    sql("""CREATE TABLE graft_id.db.br
          |(id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_id.db.br (v) VALUES ('m1'), ('m2')")
    sql("SELECT * FROM graft_branch('graft_id', 'db.br', 'wip')").collect()
    sql("INSERT INTO graft_id.db.br.branch_wip (v) VALUES ('b1'), ('b2')")
    sql("SELECT * FROM graft_fastforward('graft_id', 'db.br', 'wip')").collect()
    sql("INSERT INTO graft_id.db.br (v) VALUES ('m3')")
    val t = spark.table("graft_id.db.br")
    assert(t.count() == 5)
    assert(t.select("id").distinct().count() == 5,
      "branch allocations must stay unique through fast-forward")
  }
}
