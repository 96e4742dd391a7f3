package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Declared sort order on write (`write.sort.cols`): every append lands
  * range-clustered files the stats log prunes immediately; layout tables
  * sort within their units; COW rewrites and unparameterized compaction
  * honor the declaration; DDL validates loudly; RENAME re-keys it.
  */
class GraftSortSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_sort_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)
  private def planned(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions
  private def tdir(t: String) = new org.apache.hadoop.fs.Path(s"$warehouse/db/$t")
  private def fs = tdir("x").getFileSystem(spark.sessionState.newHadoopConf())
  private def dataFiles(t: String): Seq[String] =
    GraftTable.dataFiles(fs, tdir(t))

  /** Run `body` with AQE partition coalescing off, so a tiny range
    * shuffle keeps its partition count and we get a multi-file layout
    * to assert against (at real scale coalescing is exactly right).
    */
  private def multiFile[T](body: => T): T = {
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try body finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_so", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_so.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_so.db")
  }

  test("first append lands disjoint-range files that stats-prune a range probe") {
    sql("CREATE TABLE graft_so.db.s1 (k BIGINT, v STRING) " +
      s"TBLPROPERTIES('${GraftSort.SortColsProp}'='k')")
    // scattered input: shuffled ids — the ordered distribution must
    // range-cluster them regardless of arrival order
    multiFile {
      spark.range(0, 4000).select(
          (col("id") * 2654435761L % 4000).as("k"),
          concat(lit("v"), col("id")).as("v"))
        .repartition(4)
        .writeTo("graft_so.db.s1").append()
    }
    val total = dataFiles("s1").size
    assert(total > 1, s"need a multi-file layout, got $total")
    // per-file [min,max] must be DISJOINT — the range shuffle's promise
    val entries = GraftFileLog.stats(fs, tdir("s1"))
    val ranges = dataFiles("s1").map(f => entries(new org.apache.hadoop.fs.Path(f).getName))
      .map(st => (st.cols("k").min.get.toLong, st.cols("k").max.get.toLong))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2,
        s"file ranges overlap: $ranges")
      case _ =>
    }
    // and the probe plans strictly fewer files than the table holds
    val probe = sql("SELECT * FROM graft_so.db.s1 WHERE k BETWEEN 100 AND 180")
    assert(planned(probe) < total, s"${planned(probe)} of $total planned")
    assert(probe.count() == 81)
  }

  test("partitioned table sorts within each written file") {
    sql("CREATE TABLE graft_so.db.s2 (k BIGINT, p STRING) " +
      "PARTITIONED BY (p) " +
      s"TBLPROPERTIES('${GraftSort.SortColsProp}'='k')")
    spark.range(0, 1000).select(
        (col("id") * 48271L % 1000).as("k"),
        concat(lit("p"), col("id") % 3).as("p"))
      .repartition(4)
      .writeTo("graft_so.db.s2").append()
    val files = dataFiles("s2")
    assert(files.nonEmpty)
    files.foreach { f =>
      val ks = spark.read.parquet(f).select("k").collect().map(_.getLong(0))
      assert(ks.sameElements(ks.sorted), s"file $f is not sorted by k")
    }
    assert(sql("SELECT count(*) FROM graft_so.db.s2").collect()(0).getLong(0) == 1000)
  }

  test("COW rewrite keeps the declared clustering") {
    sql("CREATE TABLE graft_so.db.s3 (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES('history'='true', '${GraftSort.SortColsProp}'='k')")
    multiFile {
      spark.range(0, 2000).select(
          (col("id") * 2654435761L % 2000).as("k"), col("id").as("v"))
        .repartition(4)
        .writeTo("graft_so.db.s3").append()
    }
    multiFile { sql("UPDATE graft_so.db.s3 SET v = v + 1 WHERE k % 2 = 0") }
    val total = dataFiles("s3").size
    // rewritten replacement files went through the same ordered write:
    // a range probe still prunes and answers stay exact
    val probe = sql("SELECT * FROM graft_so.db.s3 WHERE k BETWEEN 50 AND 120")
    assert(planned(probe) < total, s"${planned(probe)} of $total planned")
    // k = id·odd mod 2000 preserves parity, so k even ⇔ id (= old v) even:
    // sum(v) over even k = Σ even ids + 1000 bumps = 999000 + 1000
    assert(sql("SELECT sum(v) FROM graft_so.db.s3 WHERE k % 2 = 0")
      .collect()(0).getLong(0) == 1000000L)
  }

  test("ALTER SET declares, unparameterized compaction honors it, UNSET stops it") {
    sql("CREATE TABLE graft_so.db.s4 (k BIGINT, v STRING)")
    multiFile {
      spark.range(0, 3000).select(
          (col("id") * 2654435761L % 3000).as("k"),
          concat(lit("v"), col("id")).as("v"))
        .repartition(4)
        .writeTo("graft_so.db.s4").append()
    }
    // undeclared: scattered files, a range probe cannot prune
    val totalBefore = dataFiles("s4").size
    assert(totalBefore > 1)
    assert(planned(sql("SELECT * FROM graft_so.db.s4 WHERE k BETWEEN 10 AND 60")) == totalBefore)
    sql(s"ALTER TABLE graft_so.db.s4 SET TBLPROPERTIES('${GraftSort.SortColsProp}'='k')")
    // compaction with NO clustering args picks up the declaration
    multiFile {
      GraftMaintenance.compactTable(spark, TestTables.at(s"$warehouse/db/s4"),
        targetBytes = 16L << 10)
    }
    val total = dataFiles("s4").size
    assert(total > 1, s"compaction produced $total files; need >1 to assert pruning")
    val probe = sql("SELECT * FROM graft_so.db.s4 WHERE k BETWEEN 10 AND 60")
    assert(planned(probe) < total, s"${planned(probe)} of $total planned")
    assert(probe.count() == 51)
    sql(s"ALTER TABLE graft_so.db.s4 UNSET TBLPROPERTIES('${GraftSort.SortColsProp}')")
    assert(!spark.sessionState.catalogManager.catalog("graft_so")
      .asInstanceOf[GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "s4")).properties().containsKey(GraftSort.SortColsProp))
  }

  test("DDL refuses bad declarations loudly") {
    // unknown column
    val e1 = intercept[Exception] {
      sql("CREATE TABLE graft_so.db.bad1 (k BIGINT) " +
        s"TBLPROPERTIES('${GraftSort.SortColsProp}'='nope')")
    }
    assert(e1.getMessage.contains("not a physical column"))
    // non-comparable type
    val e2 = intercept[Exception] {
      sql("CREATE TABLE graft_so.db.bad2 (k BIGINT, e ARRAY<FLOAT>) " +
        s"TBLPROPERTIES('${GraftSort.SortColsProp}'='e')")
    }
    assert(e2.getMessage.contains("comparable"))
    // partition column: clusters by path already
    val e3 = intercept[Exception] {
      sql("CREATE TABLE graft_so.db.bad3 (k BIGINT, p STRING) " +
        "PARTITIONED BY (p) " +
        s"TBLPROPERTIES('${GraftSort.SortColsProp}'='p')")
    }
    assert(e3.getMessage.contains("not a physical column"))
    // identity column: values allocated inside the writer
    val e4 = intercept[Exception] {
      sql("CREATE TABLE graft_so.db.bad4 (id BIGINT, v STRING) " +
        s"TBLPROPERTIES('history'='true', 'graft.identity.col'='id', " +
        s"'${GraftSort.SortColsProp}'='id')")
    }
    assert(e4.getMessage.contains("identity"))
    // ALTER SET validates too
    sql("CREATE TABLE graft_so.db.bad5 (k BIGINT)")
    val e5 = intercept[Exception] {
      sql("ALTER TABLE graft_so.db.bad5 SET " +
        s"TBLPROPERTIES('${GraftSort.SortColsProp}'='ghost')")
    }
    assert(e5.getMessage.contains("not a physical column"))
  }

  test("graft_layout_advice closes measurement into a recommendation") {
    graft.GraftExtensions.register(spark)
    // scattered, undeclared: the advice must point at the declarations
    sql("CREATE TABLE graft_so.db.adv (k BIGINT, s STRING)")
    (0 until 3).foreach { i =>
      spark.range(0, 300, 1, 1)
        .selectExpr("(id * 2654435761) % 1000 AS k", "concat('s', id) AS s")
        .writeTo("graft_so.db.adv").append()
    }
    val rows = sql("SELECT * FROM graft_layout_advice('graft_so', 'db.adv')")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getString(3), r.getString(4))).toMap
    val (ovK, declK, advK) = rows("k")
    assert(ovK > 0.5 && declK == "" && advK.contains("write.sort.cols") &&
      advK.contains("index.bloom.cols"), s"k: $advK")
    assert(rows("s")._3.contains("index.trgm.cols"), "string column advises trgm")
    // declared + clustered: the advice says the contract holds
    sql(s"ALTER TABLE graft_so.db.adv SET TBLPROPERTIES('${GraftSort.SortColsProp}'='k')")
    multiFile {
      GraftMaintenance.compactTable(spark, TestTables.at(s"$warehouse/db/adv"),
        targetBytes = 16L << 10)
    }
    val after = sql("SELECT * FROM graft_layout_advice('graft_so', 'db.adv')")
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getString(3),
        r.getString(4))).toMap
    assert(after("k")._1 <= 0.2 && after("k")._2 == "sort" &&
      after("k")._3.contains("declared"), s"k after: ${after("k")}")
    // layout columns are labelled, not advised
    sql("CREATE TABLE graft_so.db.advp (k BIGINT, p STRING) PARTITIONED BY (p)")
    spark.range(0, 50, 1, 1).selectExpr("id AS k", "concat('p', id % 2) AS p")
      .writeTo("graft_so.db.advp").append()
    val lp = sql("SELECT * FROM graft_layout_advice('graft_so', 'db.advp')")
      .collect().map(r => r.getString(0) -> (r.getString(3), r.getString(4))).toMap
    assert(lp("p")._1 == "partition" && lp("p")._2.contains("placement"))
  }

  test("the native streaming sink honors the declared ordering per epoch") {
    sql("CREATE TABLE graft_so.db.st (k BIGINT, v STRING) " +
      s"TBLPROPERTIES('history'='true', '${GraftSort.SortColsProp}'='k')")
    val ck = Files.createTempDirectory("graft_sort_ck").toFile.getAbsolutePath
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", "200").option("numPartitions", "4").load()
      .selectExpr("(value * 2654435761) % 1000 AS k", "concat('v', value) AS v")
    val q = src.writeStream.option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft_so.db.st")
    q.awaitTermination(120000)
    assert(sql("SELECT count(*) FROM graft_so.db.st")
      .collect()(0).getLong(0) >= 200L)
    // every landed file is internally sorted by the declared column —
    // the epoch's write request carried the same required ordering as a
    // batch append
    dataFiles("st").foreach { f =>
      val ks = spark.read.parquet(f).select("k").collect().map(_.getLong(0))
      assert(ks.sameElements(ks.sorted), s"streamed file $f is not sorted")
    }
  }

  test("RENAME COLUMN re-keys the declaration") {
    sql("CREATE TABLE graft_so.db.s5 (k BIGINT, v STRING) " +
      s"TBLPROPERTIES('${GraftSort.SortColsProp}'='k')")
    sql("ALTER TABLE graft_so.db.s5 RENAME COLUMN k TO kk")
    val props = spark.sessionState.catalogManager.catalog("graft_so")
      .asInstanceOf[GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "s5")).properties()
    assert(props.get(GraftSort.SortColsProp) == "kk")
    // and the declaration still drives the write under its new name
    multiFile {
      spark.range(0, 2000).select(
          (col("id") * 2654435761L % 2000).as("kk"),
          concat(lit("v"), col("id")).as("v"))
        .repartition(4)
        .writeTo("graft_so.db.s5").append()
    }
    val total = dataFiles("s5").size
    val probe = sql("SELECT * FROM graft_so.db.s5 WHERE kk BETWEEN 100 AND 140")
    assert(total > 1 && planned(probe) < total)
    assert(probe.count() == 41)
  }
}
