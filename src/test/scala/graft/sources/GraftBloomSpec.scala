package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

/** Per-file bloom index: point predicates on non-clustered keys prune
  * files min/max stats cannot; pruning is provably sound (no false
  * negatives), unindexed files never prune, vacuum/rewrites retire dead
  * entries, and every refusal path falls back with the same answer.
  */
class GraftBloomSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_bloom_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)
  private def planned(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  /** Names of the data files a query's graft scan plans. */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.asInstanceOf[GraftScan]
    }.head.planInputPartitions().toSeq.collect {
      case p: GraftFilePartition => new Path(p.file).getName
    }.toSet

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft_bl", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_bl.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_bl.db")
  }

  test("point lookup on a non-clustered key prunes via the bloom index") {
    sql("CREATE TABLE graft_bl.db.t (id BIGINT, grp BIGINT, v STRING)")
    // cluster by grp: every file's id range overlaps — stats can't prune id
    spark.range(0, 8000).toDF("id")
      .withColumn("grp", col("id") % 64)
      .withColumn("v", concat(lit("v"), col("id")))
      .repartition(8, col("grp"))
      .writeTo("graft_bl.db.t").append()
    val total = GraftTable.dataFiles(
      new org.apache.hadoop.fs.Path(s"$warehouse/db/t")
        .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(s"$warehouse/db/t")).size
    assert(total >= 4)

    val probe = spark.table("graft_bl.db.t").where(col("id") === 4321)
    assert(planned(probe) == total,
      s"pre-index, the id ranges overlap every file — all $total planned")

    val indexed = GraftBloom.buildIndex(spark,
      TestTables.at(s"$warehouse/db/t"), Seq("id"))
    assert(indexed == total)
    val probe2 = spark.table("graft_bl.db.t").where(col("id") === 4321)
    assert(planned(probe2) < total,
      s"post-index, the point lookup must prune (${planned(probe2)} of $total)")
    assert(probe2.collect().map(_.getString(2)).toSeq == Seq("v4321"))

    // IN-list prunes to the union of candidate files; result exact
    val in = spark.table("graft_bl.db.t")
      .where(col("id").isin(17L, 4321L, 7777L))
    assert(planned(in) < total)
    assert(in.collect().map(_.getLong(0)).sorted.toSeq == Seq(17L, 4321L, 7777L))

    // an absent key prunes everything yet returns an exact empty result
    val miss = spark.table("graft_bl.db.t").where(col("id") === 999999L)
    assert(miss.collect().isEmpty)

    // range predicates ignore the bloom (stats territory): exact answers
    assert(spark.table("graft_bl.db.t").where(col("id") < 10).count() == 10)
  }

  test("string keys and the SQL surface (graft_bloom_build TVF)") {
    sql("CREATE TABLE graft_bl.db.s (doc STRING, grp BIGINT)")
    spark.range(0, 4000).toDF("i")
      .select(concat(lit("doc-"), col("i")).as("doc"), (col("i") % 32).as("grp"))
      .repartition(4, col("grp"))
      .writeTo("graft_bl.db.s").append()
    val r = sql("SELECT * FROM graft_bloom_build('graft_bl', 'db.s', 'doc')")
      .collect().head
    assert(r.getInt(0) >= 2 && r.getString(1) == "doc")
    val total = r.getInt(0)
    val q = spark.table("graft_bl.db.s").where(col("doc") === "doc-1234")
    assert(planned(q) < total)
    assert(q.collect().head.getLong(1) == 1234 % 32)
  }

  test("new writes after the build are never pruned (no index entry)") {
    sql("CREATE TABLE graft_bl.db.n (id BIGINT)")
    spark.range(0, 100).toDF("id").writeTo("graft_bl.db.n").append()
    GraftBloom.buildIndex(spark, TestTables.at(s"$warehouse/db/n"), Seq("id"))
    spark.range(100000, 100100).toDF("id").writeTo("graft_bl.db.n").append()
    // the new file has no bloom entry: a lookup landing in it must succeed
    assert(spark.table("graft_bl.db.n").where(col("id") === 100042L)
      .count() == 1)
  }

  test("rewrites retire dead entries; unsupported columns refuse loudly") {
    sql("CREATE TABLE graft_bl.db.rw (id BIGINT, v STRING)")
    spark.range(0, 500).toDF("id")
      .withColumn("v", concat(lit("x"), col("id")))
      .writeTo("graft_bl.db.rw").append()
    GraftBloom.buildIndex(spark, TestTables.at(s"$warehouse/db/rw"), Seq("id"))
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/rw")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(GraftFileLog.blooms(fs, dir).nonEmpty)
    // compaction rewrites under fresh names → old entries retire
    GraftMaintenance.compactTable(spark, TestTables.at(s"$warehouse/db/rw"))
    val after = GraftFileLog.blooms(fs, dir)
    val live = GraftTable.dataFiles(fs, dir)
      .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    assert(after.keys.forall { case (f, _) => live.contains(f) },
      s"dead bloom entries must retire with their files: ${after.keys}")
    assert(spark.table("graft_bl.db.rw").count() == 500)

    intercept[IllegalArgumentException](
      GraftBloom.buildIndex(spark, TestTables.at(s"$warehouse/db/rw"), Seq("nope")))
  }

  test("existence-default columns never bloom-prune (pre-add files serve the default)") {
    sql("CREATE TABLE graft_bl.db.ed (id BIGINT, grp BIGINT)")
    // pre-add files: written BEFORE the column exists
    spark.range(0, 1000).toDF("id").withColumn("grp", col("id") % 8)
      .repartition(4, col("grp")).writeTo("graft_bl.db.ed").append()
    sql("ALTER TABLE graft_bl.db.ed ADD COLUMNS (w BIGINT DEFAULT 5)")
    // the index build reads raw file bytes — pre-add files have no w, so
    // their bloom for w is EMPTY even though the scan serves w=5 for
    // every row; an unsound pruner would 'prove' absence and drop them
    GraftBloom.buildIndex(spark, TestTables.at(s"$warehouse/db/ed"), Seq("w", "id"))
    // precondition making this a real regression test: the index DOES
    // carry (file, w) entries for the pre-add files — the hazard exists
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/ed")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(GraftFileLog.blooms(fs, dir).keys.exists(_._2 == "w"),
      "precondition: the build must have indexed the defaulted column")
    val served = spark.table("graft_bl.db.ed").where(col("w") === 5)
    assert(served.count() == 1000,
      "bloom pruning on an existence-default column silently dropped rows")
    // conjunction with a default-column predicate must not poison the
    // other side either (And(w=5, id=7): id's bloom may prune, w's never)
    assert(spark.table("graft_bl.db.ed")
      .where(col("w") === 5 && col("id") === 7).count() == 1)
    // sanity: the same index still prunes on the ordinary column
    val probe = spark.table("graft_bl.db.ed").where(col("id") === 4321)
    assert(probe.count() == 0)
  }

  test("trigram index: LIKE '%needle%' prunes files; answers stay exact") {
    sql("CREATE TABLE graft_bl.db.tg (id BIGINT, grp BIGINT, body STRING)")
    // each row's body carries a group marker; files cluster by grp, so a
    // marker's grams exist only in its group's file
    spark.range(0, 4000).toDF("id")
      .withColumn("grp", col("id") % 4)
      .withColumn("body", concat(lit("lorem ipsum marker"), col("grp"),
        lit("q row "), col("id")))
      .repartition(4, col("grp"))
      .writeTo("graft_bl.db.tg").append()
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/tg")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val total = GraftTable.dataFiles(fs, dir).size
    assert(total >= 3, s"need multiple files, got $total")

    def probe = spark.table("graft_bl.db.tg")
      .where(col("body").contains("marker2q"))
    assert(planned(probe) == total,
      "pre-index a substring scan cannot prune (LIKE is not parquet-convertible)")

    val r = sql("SELECT * FROM graft_trgm_build('graft_bl', 'db.tg', 'body')")
      .collect().head
    assert(r.getInt(0) == total && r.getString(1) == "body")

    assert(planned(probe) < total,
      s"post-index the substring probe must prune (${planned(probe)} of $total)")
    assert(probe.count() == 1000, "pruning must not change the answer")

    // an absent needle (grams never written) prunes everything, exactly
    assert(spark.table("graft_bl.db.tg")
      .where(col("body").contains("zzqxv")).count() == 0)
    // literals shorter than 3 chars are gram-less: neutral AND exact
    val short = spark.table("graft_bl.db.tg").where(col("body").contains("q"))
    assert(planned(short) == total && short.count() == 4000)
    // prefix / suffix / equality imply containment: same index serves them
    assert(spark.table("graft_bl.db.tg")
      .where(col("body").startsWith("lorem ipsum marker3")).count() == 1000)
    assert(spark.table("graft_bl.db.tg")
      .where(col("body").endsWith("row 42")).count() == 1)
    val eq = spark.table("graft_bl.db.tg")
      .where(col("body") === "lorem ipsum marker1q row 17")
    assert(planned(eq) < total && eq.count() == 1)

    // new writes after the build have no entry: never pruned, still found
    spark.range(0, 1).toDF("id").withColumn("grp", lit(9L))
      .withColumn("body", lit("fresh needlezx here"))
      .writeTo("graft_bl.db.tg").append()
    assert(spark.table("graft_bl.db.tg")
      .where(col("body").contains("needlezx")).count() == 1)
  }

  test("trigram entries follow RENAME COLUMN and never prune defaulted columns") {
    sql("CREATE TABLE graft_bl.db.tr (id BIGINT, grp BIGINT, body STRING)")
    spark.range(0, 2000).toDF("id")
      .withColumn("grp", col("id") % 4)
      .withColumn("body", concat(lit("text markx"), col("grp"), lit("w end")))
      .repartition(4, col("grp"))
      .writeTo("graft_bl.db.tr").append()
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/tr")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val total = GraftTable.dataFiles(fs, dir).size
    sql("SELECT * FROM graft_trgm_build('graft_bl', 'db.tr', 'body')").collect()
    sql("ALTER TABLE graft_bl.db.tr RENAME COLUMN body TO content")
    val q = spark.table("graft_bl.db.tr")
      .where(col("content").contains("markx2w"))
    assert(planned(q) < total,
      "renamed column must keep pruning (trigram entries re-keyed)")
    assert(q.count() == 500)

    // existence-default string column: pre-add files read back NULL, so
    // their trigram bloom is empty even though the scan serves the
    // default text — pruning on it would silently drop every pre-add row
    sql("ALTER TABLE graft_bl.db.tr ADD COLUMNS (note STRING DEFAULT 'defaulted-note')")
    sql("SELECT * FROM graft_trgm_build('graft_bl', 'db.tr', 'note')").collect()
    assert(spark.table("graft_bl.db.tr")
      .where(col("note").contains("faulted-no")).count() == 2000,
      "substring pruning on an existence-default column dropped served rows")

    // non-string columns refuse loudly
    intercept[IllegalArgumentException](
      GraftBloom.buildTrigramIndex(spark, TestTables.at(s"$warehouse/db/tr"), Seq("id")))
  }

  test("index-on-write: declared columns prune from the first commit") {
    sql("""CREATE TABLE graft_bl.db.iw (id BIGINT, grp BIGINT, body STRING)
          |TBLPROPERTIES('index.bloom.cols'='id',
          |              'index.trgm.cols'='body')""".stripMargin)
    // NO graft_*_build call anywhere in this test: the writer's hot loop
    // records the entries and the commit lands them with the files
    spark.range(0, 4000).toDF("id")
      .withColumn("grp", col("id") % 4)
      .withColumn("body", concat(lit("row mark"), col("grp"), lit("x id"), col("id")))
      .repartition(4, col("grp"))
      .writeTo("graft_bl.db.iw").append()
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/iw")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val total = GraftTable.dataFiles(fs, dir).size
    assert(total >= 3)
    assert(GraftFileLog.blooms(fs, dir).size == 2 * total,
      "every committed file must carry its bloom + trigram entry")

    val point = spark.table("graft_bl.db.iw").where(col("id") === 1234)
    assert(planned(point) < total, "value bloom prunes with zero build calls")
    assert(point.count() == 1)
    val like = spark.table("graft_bl.db.iw").where(col("body").contains("mark3x"))
    assert(planned(like) < total, "trigram prunes with zero build calls")
    assert(like.count() == 1000)

    // the SECOND commit's files are indexed too — a needle that exists
    // only in batch 2 is found, and probing it plans fewer than all files
    spark.range(0, 8).toDF("id").withColumn("grp", lit(7L))
      .withColumn("body", lit("fresh qqneedle here"))
      .writeTo("graft_bl.db.iw").append()
    val total2 = GraftTable.dataFiles(fs, dir).size
    val fresh = spark.table("graft_bl.db.iw")
      .where(col("body").contains("qqneedle"))
    assert(planned(fresh) < total2 && fresh.count() == 8)

    // declaring an unsupported type refuses loudly AT THE DDL
    val e = intercept[Exception](sql(
      "ALTER TABLE graft_bl.db.iw SET TBLPROPERTIES('index.trgm.cols'='id')"))
    assert(e.getMessage.contains("trigram"),
      s"unexpected refusal: ${e.getMessage.take(200)}")
    // UNSET stops indexing future writes; existing entries keep pruning
    sql("ALTER TABLE graft_bl.db.iw UNSET TBLPROPERTIES('index.trgm.cols')")
    val props = TestTables.at(dir).props
    assert(!props.contains(GraftBloom.TrgmColsProp),
      s"UNSET must remove the key; props=$props")
    val beforeKeys = GraftFileLog.blooms(fs, dir).keySet
    spark.range(9000, 9002).toDF("id").withColumn("grp", lit(3L))
      .withColumn("body", lit("post-unset rows"))
      .writeTo("graft_bl.db.iw").append()
    val newKeys = GraftFileLog.blooms(fs, dir).keySet -- beforeKeys
    assert(newKeys.nonEmpty && newKeys.forall(_._2 == "id"),
      s"post-unset commits record only the still-declared bloom column, got $newKeys")
    assert(spark.table("graft_bl.db.iw")
      .where(col("body").contains("post-unset")).count() == 2,
      "unindexed new files are never pruned")
  }

  test("compaction re-indexes declared columns; probes keep pruning") {
    sql("""CREATE TABLE graft_bl.db.cr (id BIGINT, grp BIGINT, body STRING)
          |TBLPROPERTIES('index.bloom.cols'='id',
          |              'index.trgm.cols'='body')""".stripMargin)
    spark.range(0, 4000).toDF("id")
      .withColumn("grp", col("id") % 4)
      .withColumn("body", concat(lit("cmark"), col("grp"), lit("x ... "), col("id")))
      .repartition(4, col("grp"))
      .writeTo("graft_bl.db.cr").append()
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/cr")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // compact to ONE clustered file set under fresh names
    GraftMaintenance.compactTable(spark, TestTables.at(s"$warehouse/db/cr"),
      sortCols = Seq("grp"))
    val live = GraftTable.dataFiles(fs, dir)
      .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    val idx = GraftFileLog.blooms(fs, dir)
    assert(live.forall(n =>
      idx.contains((n, "id")) && idx.contains((n, "body#trgm"))),
      s"compaction outputs must be re-indexed: live=$live keys=${idx.keySet}")
    assert(idx.keys.forall { case (f, _) => live.contains(f) },
      "pre-compaction entries for destroyed files must retire")
    // and the rebuilt entries actually answer: absent needles plan nothing
    assert(spark.table("graft_bl.db.cr").where(col("id") === 999999L)
      .count() == 0)
    assert(spark.table("graft_bl.db.cr")
      .where(col("body").contains("zzqxv")).count() == 0)
    assert(spark.table("graft_bl.db.cr")
      .where(col("body").contains("cmark2x")).count() == 1000)
  }

  test("history tables: index the current snapshot; vacuum keeps liveness") {
    sql("""CREATE TABLE graft_bl.db.h (id BIGINT, grp BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 2000).toDF("id").withColumn("grp", col("id") % 32)
      .repartition(4, col("grp")).writeTo("graft_bl.db.h").append()
    val n = GraftBloom.buildIndex(spark, TestTables.at(s"$warehouse/db/h"), Seq("id"))
    assert(n >= 2)
    val q = spark.table("graft_bl.db.h").where(col("id") === 777)
    assert(planned(q) < n && q.count() == 1)
  }

  test("merge-on-read MERGE inserts land indexed on an index-on-write table") {
    sql("""CREATE TABLE graft_bl.db.mor (id BIGINT, v STRING)
          |TBLPROPERTIES('history'='true', 'merge-on-read'='true',
          |              'index.bloom.cols'='id')""".stripMargin)
    sql("INSERT INTO graft_bl.db.mor VALUES (1, 'a'), (1000, 'b')")
    val dir = new Path(s"$warehouse/db/mor")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val before = GraftTable.dataFiles(fs, dir).map(new Path(_).getName).toSet
    // one matched row (a deletion vector plus a reinsert) and two genuine
    // inserts whose range [100, 900] covers the probe below
    sql("""MERGE INTO graft_bl.db.mor t
          |USING (SELECT * FROM VALUES (1, 'a2'), (100, 'c'), (900, 'd')
          |       AS s(id, v)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val live = TestTables.at(dir).currentDataFiles(fs).map(new Path(_).getName).toSet
    val inserted = live -- before
    assert(inserted.nonEmpty, s"the merge appended no file: $live")
    val idx = GraftFileLog.blooms(fs, dir)
    assert(live.forall(n => idx.contains((n, "id"))),
      s"every current file needs a bloom entry: live=$live keys=${idx.keySet}")
    // stats cannot prune an absent key inside every file's range; the
    // delta-inserted file's bloom proves it absent
    val absent = spark.table("graft_bl.db.mor").where(col("id") === 555L)
    assert(plannedFiles(absent).intersect(inserted).isEmpty,
      s"the delta-inserted files $inserted must prune: ${plannedFiles(absent)}")
    assert(absent.count() == 0)
    assert(spark.table("graft_bl.db.mor").where(col("id") === 900L)
      .collect().map(_.getString(1)).toSeq == Seq("d"))
    assert(sql("SELECT v FROM graft_bl.db.mor WHERE id = 1").head().getString(0) == "a2")
  }

  test("the bloom log consolidates like the stats log; lookups keep pruning") {
    sql("""CREATE TABLE graft_bl.db.many (id BIGINT)
          |TBLPROPERTIES('history'='true', 'index.bloom.cols'='id')""".stripMargin)
    // one file per commit, spanning [-1000 - i, 1000 + i]: min/max prune
    // no probe in 0..39, only the blooms can
    val n = 40
    (0 until n).foreach(i =>
      sql(s"SELECT explode(array(${-1000 - i}L, ${i}L, ${1000 + i}L)) AS id")
        .coalesce(1).writeTo("graft_bl.db.many").append())
    val logFiles = new java.io.File(s"$warehouse/db/many/${GraftFileLog.Bloom.dirName}")
      .listFiles().filter(_.getName.endsWith(".txt"))
    assert(logFiles.length <= GraftFileLog.MaxFiles + 1,
      s"bloom log grew to ${logFiles.length} files over $n commits")
    val dir = new Path(s"$warehouse/db/many")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = GraftFileLog.blooms(fs, dir).size
    assert(entries == n, s"$entries entries: one was lost in the folds")
    val probe = spark.table("graft_bl.db.many").where(col("id") === 17L)
    assert(plannedFiles(probe).size == 1 && probe.count() == 1)
  }

  test("compaction lifts stats and builds declared indexes in one job, " +
    "byte-identical to the build verbs") {
    sql("""CREATE TABLE graft_bl.db.cj (id BIGINT, grp BIGINT, body STRING)
          |TBLPROPERTIES('history'='true', 'index.bloom.cols'='id',
          |              'index.trgm.cols'='body')""".stripMargin)
    (0 until 3).foreach { k =>
      spark.range(k * 500L, k * 500L + 500).toDF("id")
        .withColumn("grp", col("id") % 4)
        .withColumn("body", concat(lit("row "), col("id"), lit(" text")))
        .repartition(2).writeTo("graft_bl.db.cj").append()
    }
    val dir = new Path(s"$warehouse/db/cj")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // jobs started after the compaction's commit point carry this group
    val group = "graft-bloom-spec-post-commit"
    val marker = "graft-bloom-spec-marker"
    val afterCommit = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            if (g == group) afterCommit.incrementAndGet()
            if (g == marker) markerSeen.countDown()
          }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      GraftTable.interposeOnce(dir)(
        spark.sparkContext.setJobGroup(group, "after the compaction commit"))
      try GraftMaintenance.compactTable(spark, TestTables.at(dir))
      finally spark.sparkContext.clearJobGroup()
      // listener events arrive in order: once the marker job is seen,
      // every job before it has been counted
      spark.sparkContext.setJobGroup(marker, "marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(afterCommit.get == 1,
      s"stats and indexes of the compacted files took ${afterCommit.get} jobs")

    val table = TestTables.at(dir)
    val live = table.currentDataFiles(fs).map(new Path(_).getName).toSet
    def entries = GraftFileLog.blooms(fs, dir, live.contains)
      .map { case (k, bytes) => k -> bytes.toSeq }
    val compacted = entries
    assert(compacted.keySet == live.flatMap(n => Set((n, "id"), (n, "body#trgm"))),
      s"live=$live keys=${compacted.keySet}")
    assert(GraftFileLog.stats(fs, dir, live.contains).keySet == live)
    sql("SELECT * FROM graft_bloom_build('graft_bl', 'db.cj', 'id')").collect()
    sql("SELECT * FROM graft_trgm_build('graft_bl', 'db.cj', 'body')").collect()
    val same = entries == compacted
    assert(same, "the compaction's entries differ from what the build verbs write")
  }
}
