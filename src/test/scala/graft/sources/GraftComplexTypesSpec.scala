package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Catalog tables holding NON-SCALAR columns — the engine's own flagship
  * payloads: `array<float>` embeddings, `binary` multimodal blobs, and
  * struct metadata. The write/read path delegates to Spark's parquet
  * support so values round-trip bit-exactly; the scalar-only metadata
  * machinery (stats, bloom, CBO, eq-deletes) must SKIP such columns
  * silently on the write path and refuse LOUDLY when the user asks for
  * them by name.
  */
class GraftComplexTypesSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_cx_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft_cx", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cx.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cx.db")
  }

  test("array<float> embeddings: write, read, prune, COW delete, time travel") {
    sql("""CREATE TABLE graft_cx.db.emb (vec_id BIGINT, label BIGINT,
          |embedding ARRAY<FLOAT>)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    val src = spark.range(0, 200).toDF("vec_id")
      .withColumn("label", col("vec_id") % 7)
      .withColumn("embedding",
        expr("transform(sequence(0, 7), i -> CAST(vec_id * 10 + i AS FLOAT))"))
    src.writeTo("graft_cx.db.emb").append()
    val t = spark.table("graft_cx.db.emb")
    assert(t.count() == 200)
    // values round-trip bit-exactly
    val r = t.where(col("vec_id") === 42).select("embedding")
      .collect().head.getSeq[Float](0)
    assert(r == (0 to 7).map(i => (420 + i).toFloat))
    // scalar-column stats still prune around the array payload
    assert(t.where(col("label") === 3).count() == 29)
    // column pruning: a scalar-only projection must not read the array
    val pruned = t.select("vec_id").queryExecution.executedPlan.toString
    assert(!pruned.contains("embedding"),
      s"scalar projection must prune the embedding column:\n$pruned")
    // COW DELETE on a scalar predicate rewrites rows, arrays intact
    sql("DELETE FROM graft_cx.db.emb WHERE vec_id % 10 = 3")
    assert(spark.table("graft_cx.db.emb").count() == 180)
    val kept = spark.table("graft_cx.db.emb")
      .where(col("vec_id") === 44).select("embedding")
      .collect().head.getSeq[Float](0)
    assert(kept == (0 to 7).map(i => (440 + i).toFloat),
      "COW rewrite must carry array values bit-exactly")
    // time travel resurrects the pre-delete arrays
    assert(sql("SELECT count(*) FROM graft_cx.db.emb VERSION AS OF 2")
      .collect().head.getLong(0) == 200)
    // vector math over the catalog table (the similarity stack's input)
    val dot = spark.table("graft_cx.db.emb").where(col("vec_id") === 1)
      .select(expr("aggregate(zip_with(embedding, embedding, (a, b) -> a * b)," +
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)").as("d"))
      .collect().head.getDouble(0)
    assert(math.abs(dot - (10 to 17).map(v => v.toDouble * v).sum) < 1e-6)
  }

  test("merge-on-read DV deletes over array tables; UPDATE rewrites") {
    sql("""CREATE TABLE graft_cx.db.emb_mor (vec_id BIGINT, label BIGINT,
          |embedding ARRAY<FLOAT>)
          |TBLPROPERTIES('history'='true','merge-on-read'='true')""".stripMargin)
    spark.range(0, 100).toDF("vec_id")
      .withColumn("label", col("vec_id") % 5)
      .withColumn("embedding",
        expr("transform(sequence(0, 3), i -> CAST(vec_id + i AS FLOAT))"))
      .writeTo("graft_cx.db.emb_mor").append()
    sql("DELETE FROM graft_cx.db.emb_mor WHERE label = 2")
    val t = spark.table("graft_cx.db.emb_mor")
    assert(t.count() == 80)
    assert(t.where(col("vec_id") === 11).select("embedding")
      .collect().head.getSeq[Float](0) == (0 to 3).map(i => (11 + i).toFloat))
    sql("UPDATE graft_cx.db.emb_mor SET label = 99 WHERE vec_id < 10")
    assert(spark.table("graft_cx.db.emb_mor")
      .where(col("label") === 99).count() == 8)
  }

  test("binary payloads and struct metadata round-trip through the catalog") {
    sql("""CREATE TABLE graft_cx.db.blobs (id BIGINT, payload BINARY,
          |meta STRUCT<mime: STRING, w: INT, h: INT>)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 50).toDF("id")
      .withColumn("payload", expr("CAST(repeat(CHAR(65 + id % 26), 64) AS BINARY)"))
      .withColumn("meta", struct(lit("image/png").as("mime"),
        (col("id") % 100 + 1).cast("int").as("w"), lit(32).as("h")))
      .writeTo("graft_cx.db.blobs").append()
    val t = spark.table("graft_cx.db.blobs")
    assert(t.count() == 50)
    // binary content round-trips: content hash computed over the catalog
    // read equals the hash of the source bytes
    val h = t.where(col("id") === 3)
      .select(sha2(col("payload"), 256).as("h")).collect().head.getString(0)
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest(("D" * 64).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(h == expected)
    // struct field access + predicate on a nested field (w = id+1 ∈ 1..50)
    assert(t.where(col("meta.w") > 25).count() == 25)
    // COW delete with binary columns aboard
    sql("DELETE FROM graft_cx.db.blobs WHERE id >= 40")
    assert(spark.table("graft_cx.db.blobs").count() == 40)
  }

  test("scalar-only metadata machinery: silent skip on write, loud refusal by name") {
    sql("""CREATE TABLE graft_cx.db.guard (id BIGINT, embedding ARRAY<FLOAT>,
          |payload BINARY) TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 30).toDF("id")
      .withColumn("embedding", expr("transform(sequence(0, 3), i -> CAST(i AS FLOAT))"))
      .withColumn("payload", expr("CAST('x' AS BINARY)"))
      .writeTo("graft_cx.db.guard").append()
    // write-path stats recorded the scalar column and skipped the rest
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/guard")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val st = GraftFileLog.stats(fs, dir)
    assert(st.nonEmpty && st.values.forall(s =>
      s.cols.contains("id") && !s.cols.contains("embedding") &&
        !s.cols.contains("payload")),
      s"stats must cover scalars only, got ${st.values.headOption.map(_.cols.keys)}")
    // bloom build on a non-scalar column refuses loudly
    val e = intercept[Exception](
      GraftBloom.buildIndex(spark,
        TestTables.at(s"$warehouse/db/guard"), Seq("embedding")))
    assert(e.getMessage != null)
    // NDV/stats backfills skip non-scalars without failing the table
    GraftMaintenance.analyzeTable(spark, TestTables.at(s"$warehouse/db/guard"))
    GraftStats.analyzeNdv(spark,
      TestTables.at(new org.apache.hadoop.fs.Path(s"$warehouse/db/guard")))
    // scans still read correctly after the maintenance passes
    assert(spark.table("graft_cx.db.guard").count() == 30)
  }

  test("schema evolution around non-scalar columns: add scalar, refuse nested DDL") {
    sql("""CREATE TABLE graft_cx.db.evo (id BIGINT, embedding ARRAY<FLOAT>)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 10).toDF("id")
      .withColumn("embedding", expr("transform(sequence(0, 2), i -> CAST(id AS FLOAT))"))
      .writeTo("graft_cx.db.evo").append()
    // adding a SCALAR column beside the array works (existence default)
    sql("ALTER TABLE graft_cx.db.evo ADD COLUMNS (score DOUBLE)")
    assert(spark.table("graft_cx.db.evo").select("id", "score").count() == 10)
    // evolving INSIDE the nested type refuses loudly (documented contract)
    intercept[Exception](sql(
      "ALTER TABLE graft_cx.db.evo RENAME COLUMN embedding.element TO x"))
  }
}
