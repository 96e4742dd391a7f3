package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** RENAME COLUMN (name mapping) and type WIDENING as metadata-only DDL:
  * pre-rename files keep serving the column's bytes under its new name,
  * filters stay exact across epochs, the stats/bloom metadata re-keys,
  * rewrites normalize mixed-epoch files, and every unsound combination
  * (layout columns, name reuse, narrowing, eq-delete masks) refuses
  * loudly.
  */
class GraftSchemaEvolutionSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_evo_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)
  private def planned(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions
  private def fsOf(sub: String) = {
    val p = new org.apache.hadoop.fs.Path(s"$warehouse/$sub")
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_evo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_evo.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_evo.db")
  }

  test("rename is metadata-only: old files serve the new name; filters exact") {
    sql("CREATE TABLE graft_evo.db.r (id BIGINT, amount BIGINT)")
    spark.range(0, 1000).toDF("id")
      .withColumn("amount", col("id") * 10)
      .writeTo("graft_evo.db.r").append()           // epoch 1: 'amount'
    val (fs, dir) = fsOf("db/r")
    val before = GraftTable.dataFiles(fs, dir).toSet
    sql("ALTER TABLE graft_evo.db.r RENAME COLUMN amount TO amount_cents")
    assert(GraftTable.dataFiles(fs, dir).toSet == before,
      "rename must not touch any data file")
    spark.range(1000, 2000).toDF("id")
      .withColumn("amount_cents", col("id") * 10)
      .writeTo("graft_evo.db.r").append()           // epoch 2: new name
    val t = spark.table("graft_evo.db.r")
    assert(t.columns.toSeq == Seq("id", "amount_cents"))
    // both epochs' values surface under the new name — no NULL-fill
    assert(t.where(col("amount_cents").isNull).count() == 0)
    assert(t.agg(sum("amount_cents")).collect()(0).getLong(0) ==
      (0L until 2000L).map(_ * 10).sum)
    // a filter on the renamed column is exact across BOTH epochs
    assert(t.where(col("amount_cents") === 5000).collect()
      .map(_.getLong(0)).toSeq == Seq(500L))
    assert(t.where(col("amount_cents") < 100).count() == 10)
    // SQL surface agrees
    assert(sql("SELECT count(*) FROM graft_evo.db.r WHERE amount_cents >= 19990")
      .collect()(0).getLong(0) == 1)
  }

  test("stats pruning survives rename (log re-keyed, metadata-only plans)") {
    sql("CREATE TABLE graft_evo.db.sp (k BIGINT, payload STRING)")
    spark.range(0, 8000).toDF("k")
      .withColumn("payload", concat(lit("p"), col("k")))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .writeTo("graft_evo.db.sp").append()
    val (fs, dir) = fsOf("db/sp")
    val total = GraftTable.dataFiles(fs, dir).size
    assert(total >= 4)
    sql("ALTER TABLE graft_evo.db.sp RENAME COLUMN k TO key_id")
    val probes0 = GraftParquetFilters.footerProbes.get()
    val q = spark.table("graft_evo.db.sp").where(col("key_id") < 1000)
    assert(planned(q) < total,
      s"stats pruning on the RENAMED column must survive " +
        s"(${planned(q)} of $total planned)")
    assert(GraftParquetFilters.footerProbes.get() == probes0,
      "planning must stay metadata-only — no footer probes on renamed cols")
    assert(q.count() == 1000)
  }

  test("bloom index survives rename (bits re-keyed); COW rewrite normalizes") {
    sql("CREATE TABLE graft_evo.db.bl (id BIGINT, grp BIGINT)")
    spark.range(0, 4000).toDF("id").withColumn("grp", col("id") % 32)
      .repartition(6, col("grp")).writeTo("graft_evo.db.bl").append()
    val (fs, dir) = fsOf("db/bl")
    val total = GraftTable.dataFiles(fs, dir).size
    GraftBloom.buildIndex(spark, TestTables.at(s"$warehouse/db/bl"), Seq("id"))
    sql("ALTER TABLE graft_evo.db.bl RENAME COLUMN id TO doc_id")
    val q = spark.table("graft_evo.db.bl").where(col("doc_id") === 1234L)
    assert(planned(q) < total,
      s"bloom pruning must survive the rename (${planned(q)} of $total)")
    assert(q.count() == 1)
    // copy-on-write UPDATE reads old-named files and lands current-schema
    sql("UPDATE graft_evo.db.bl SET grp = -1 WHERE doc_id = 1234")
    assert(spark.table("graft_evo.db.bl").where(col("grp") === -1)
      .collect().map(_.getLong(0)).toSeq == Seq(1234L))
    assert(spark.table("graft_evo.db.bl").count() == 4000)
  }

  test("compaction normalizes mixed-epoch files to the current schema") {
    sql("CREATE TABLE graft_evo.db.cp (id BIGINT, v BIGINT)")
    spark.range(0, 500).toDF("id").withColumn("v", col("id") + 1)
      .writeTo("graft_evo.db.cp").append()
    sql("ALTER TABLE graft_evo.db.cp RENAME COLUMN v TO val")
    spark.range(500, 1000).toDF("id").withColumn("val", col("id") + 1)
      .writeTo("graft_evo.db.cp").append()
    GraftMaintenance.compactTable(spark, TestTables.at(s"$warehouse/db/cp"))
    val (fs, dir) = fsOf("db/cp")
    // every post-compaction file physically carries the CURRENT name
    GraftTable.dataFiles(fs, dir).foreach { f =>
      val cols = spark.read.parquet(f).columns.toSet
      assert(cols == Set("id", "val"), s"$f landed $cols")
    }
    val t = spark.table("graft_evo.db.cp")
    assert(t.agg(sum("val")).collect()(0).getLong(0) ==
      (1L to 1000L).sum)
  }

  test("widening int->long / float->double reads both epochs exactly") {
    sql("CREATE TABLE graft_evo.db.w (id BIGINT, n INT, x FLOAT)")
    spark.range(0, 100).toDF("id")
      .withColumn("n", col("id").cast("int"))
      .withColumn("x", (col("id") / 2.0).cast("float"))
      .writeTo("graft_evo.db.w").append()            // narrow epoch
    sql("ALTER TABLE graft_evo.db.w ALTER COLUMN n TYPE BIGINT")
    sql("ALTER TABLE graft_evo.db.w ALTER COLUMN x TYPE DOUBLE")
    // beyond-int values land in the widened epoch
    spark.range(100, 110).toDF("id")
      .withColumn("n", col("id") + 10000000000L)
      .withColumn("x", col("id") * 1.5)
      .writeTo("graft_evo.db.w").append()
    val t = spark.table("graft_evo.db.w")
    assert(t.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(t.schema("x").dataType == org.apache.spark.sql.types.DoubleType)
    assert(t.where(col("n") === 42L).count() == 1)
    assert(t.where(col("n") > 10000000000L).count() == 10)
    assert(t.agg(sum("n")).collect()(0).getLong(0) ==
      (0L until 100L).sum + (100L until 110L).map(_ + 10000000000L).sum)
    // stats pruning still sound across the width change (canonical longs)
    assert(t.where(col("n") < 0).count() == 0)
    // narrowing refuses
    intercept[Exception](
      sql("ALTER TABLE graft_evo.db.w ALTER COLUMN n TYPE INT"))
  }

  test("widening composes with rename on the same column") {
    sql("CREATE TABLE graft_evo.db.wr (id BIGINT, cnt INT)")
    spark.range(0, 50).toDF("id").withColumn("cnt", col("id").cast("int"))
      .writeTo("graft_evo.db.wr").append()
    sql("ALTER TABLE graft_evo.db.wr RENAME COLUMN cnt TO n_items")
    sql("ALTER TABLE graft_evo.db.wr ALTER COLUMN n_items TYPE BIGINT")
    spark.range(50, 60).toDF("id").withColumn("n_items", col("id") + 5000000000L)
      .writeTo("graft_evo.db.wr").append()
    val t = spark.table("graft_evo.db.wr")
    assert(t.where(col("n_items") === 7L).count() == 1)     // old file, old name, int
    assert(t.where(col("n_items") > 5000000000L).count() == 10)
    assert(t.where(col("n_items").isNull).count() == 0)
  }

  test("unsound DDL refuses loudly: layout cols, name reuse, resurrection") {
    sql("""CREATE TABLE graft_evo.db.g (id BIGINT, ts TIMESTAMP, region STRING)
          |PARTITIONED BY (days(ts))""".stripMargin)
    intercept[Exception](
      sql("ALTER TABLE graft_evo.db.g RENAME COLUMN ts TO event_ts"))
    intercept[Exception](
      sql("ALTER TABLE graft_evo.db.g ALTER COLUMN ts TYPE STRING"))

    sql("CREATE TABLE graft_evo.db.g2 (a BIGINT, b BIGINT)")
    spark.range(0, 10).toDF("a").withColumn("b", col("a"))
      .writeTo("graft_evo.db.g2").append()
    sql("ALTER TABLE graft_evo.db.g2 RENAME COLUMN b TO c")
    // the old name is burned: neither a rename target nor an ADD may reuse
    // it — old files still hold bytes under 'b'
    intercept[Exception](
      sql("ALTER TABLE graft_evo.db.g2 RENAME COLUMN a TO b"))
    intercept[Exception](
      sql("ALTER TABLE graft_evo.db.g2 ADD COLUMN b BIGINT"))
    // DROP retires the whole chain: neither 'c' nor its alias 'b' rises
    sql("ALTER TABLE graft_evo.db.g2 DROP COLUMN c")
    intercept[Exception](
      sql("ALTER TABLE graft_evo.db.g2 ADD COLUMN c BIGINT"))
    intercept[Exception](
      sql("ALTER TABLE graft_evo.db.g2 ADD COLUMN b BIGINT"))
    // a genuinely fresh name is fine
    sql("ALTER TABLE graft_evo.db.g2 ADD COLUMN d BIGINT")
    assert(spark.table("graft_evo.db.g2").columns.toSeq == Seq("a", "d"))

    // a CHECK referencing the column blocks the rename
    sql("""CREATE TABLE graft_evo.db.g3 (id BIGINT, cents BIGINT)
          |TBLPROPERTIES('graft.check.pos'='cents > 0')""".stripMargin)
    intercept[Exception](
      sql("ALTER TABLE graft_evo.db.g3 RENAME COLUMN cents TO amount"))
  }

  test("MERGE WITH SCHEMA EVOLUTION absorbs new source columns") {
    sql("CREATE TABLE graft_evo.db.me (id BIGINT, v BIGINT)")
    spark.range(0, 100).toDF("id").withColumn("v", col("id") * 10)
      .writeTo("graft_evo.db.me").append()
    spark.range(50, 150).toDF("id").withColumn("v", col("id") * 10 + 1)
      .withColumn("tag", concat(lit("t"), col("id")))
      .createOrReplaceTempView("me_src")
    sql("""MERGE WITH SCHEMA EVOLUTION INTO graft_evo.db.me t
          |USING me_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val t = spark.table("graft_evo.db.me")
    assert(t.columns.toSeq == Seq("id", "v", "tag"),
      "the merge must have widened the table schema")
    assert(t.count() == 150)
    // untouched target rows read NULL for the absorbed column; merged and
    // inserted rows carry the source value
    assert(t.where(col("id") < 50 && col("tag").isNull).count() == 50)
    assert(t.where(col("id") >= 50 && col("tag") === concat(lit("t"), col("id")))
      .count() == 100)
    assert(t.where(col("id") === 60).collect().head.getLong(1) == 601)
    // withOUT the clause there is no ambient absorb: Spark's INSERT */
    // UPDATE SET * expand over TARGET columns only, so the extra source
    // column is unused and the schema must stay fixed (the evolution is
    // opt-in per statement — clause AND capability, not capability alone)
    sql("""MERGE INTO graft_evo.db.me t
          |USING (SELECT CAST(500 AS BIGINT) AS id, CAST(2 AS BIGINT) AS v,
          |              'x' AS tag, 'y' AS extra) s
          |ON t.id = s.id
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft_evo.db.me").columns.toSeq ==
      Seq("id", "v", "tag"), "no clause, no evolution")
    assert(spark.table("graft_evo.db.me").where(col("id") === 500)
      .collect().head.getString(2) == "x")
  }

  test("history tables: rename composes with snapshots and the changes feed") {
    sql("""CREATE TABLE graft_evo.db.h (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 300).toDF("id").withColumn("v", col("id") * 2)
      .writeTo("graft_evo.db.h").append()                       // v2
    sql("ALTER TABLE graft_evo.db.h RENAME COLUMN v TO w")
    spark.range(300, 400).toDF("id").withColumn("w", col("id") * 2)
      .writeTo("graft_evo.db.h").append()                       // v3
    sql("DELETE FROM graft_evo.db.h WHERE id % 3 = 0")          // v4 (COW)
    val t = spark.table("graft_evo.db.h")
    assert(t.count() == (0L until 400L).count(_ % 3 != 0))
    assert(t.where(col("w").isNull).count() == 0)
    // time travel reads pre-rename FILES through the current schema
    val v2 = sql("SELECT * FROM graft_evo.db.h VERSION AS OF 2")
    assert(v2.columns.toSeq == Seq("id", "w") && v2.count() == 300)
    assert(v2.agg(sum("w")).collect()(0).getLong(0) ==
      (0L until 300L).map(_ * 2).sum)
    // the changes feed serves pre-rename files' images under current names
    // (COW commits are per-file multiset deltas: carried-over rows appear
    // as delete+insert pairs, so the FOLD is the invariant to check)
    val ch = spark.read.table("graft_evo.db.h.changes")
    assert(ch.where(col("w").isNull).count() == 0)
    val folded = ch.where(col("_change_type") === "insert").count() -
      ch.where(col("_change_type") === "delete").count()
    assert(folded == t.count(),
      "insert minus delete images must fold to the live row count")
  }
}
