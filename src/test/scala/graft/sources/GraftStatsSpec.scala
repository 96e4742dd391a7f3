package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Manifest-lifted file statistics: scan planning must prune files from
  * the stats log ALONE (the footer-probe counter proves no data-file IO),
  * fall back to footer probes only for unrecorded files, stay sound under
  * negation / nulls / NaN / merge-on-read deletes, and destroy statistics
  * together with the data they describe (purge hygiene).
  */
class GraftStatsSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_stats_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)
  private def planned(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions
  private def probes[T](body: => T): (T, Long) = {
    val before = GraftParquetFilters.footerProbes.get()
    val r = body
    (r, GraftParquetFilters.footerProbes.get() - before)
  }
  private def statsDir(table: String) =
    new java.io.File(s"$warehouse/db/$table/${GraftFileLog.Stats.dirName}")

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_st", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_st.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_st.db")
  }

  test("encode/decode round-trips hostile values") {
    val st = GraftStats.FileStats(123L, 45L, Map(
      "plain" -> GraftStats.ColStats(0, Some("1"), Some("9")),
      "tricky;col" -> GraftStats.ColStats(2,
        Some("a\tb;c,d\ne"), Some("v-starts-with-v")),
      "unicode" -> GraftStats.ColStats(-1, Some("æøå δ"), None),
      "allnull" -> GraftStats.ColStats(45, None, None)))
    val line = GraftStats.encodeLine("part-00 1;x,\ty.parquet", st)
    assert(!line.split("\t", -1).exists(_.contains("\n")))
    val Some((name, back)) = GraftStats.decodeLine(line)
    assert(name == "part-00 1;x,\ty.parquet" && back == st)
  }

  test("write-path stats prune scans with ZERO footer probes") {
    sql("CREATE TABLE graft_st.db.t1 (k BIGINT, s STRING, v DOUBLE)")
    // two single-task inserts -> two files with disjoint k ranges
    sql("INSERT INTO graft_st.db.t1 SELECT id, concat('a', id), id * 1.5 " +
      "FROM range(0, 100)")
    sql("INSERT INTO graft_st.db.t1 SELECT id, concat('b', id), id * 1.5 " +
      "FROM range(1000, 1100)")
    assert(statsDir("t1").exists, "commits must land stats files")
    val dir1 = new org.apache.hadoop.fs.Path(s"$warehouse/db/t1")
    val total = GraftTable.dataFiles(
      dir1.getFileSystem(spark.sessionState.newHadoopConf()), dir1).size
    val (n, footer) = probes {
      planned(spark.table("graft_st.db.t1").where(col("k") === 1050L))
    }
    assert(n == 1, s"point predicate must plan 1 of $total files, planned $n")
    assert(footer == 0L,
      s"stats-recorded files must never be footer-probed (probed $footer)")
    // string range prunes the whole first insert (byte-wise order both sides)
    val (ns, footerS) = probes {
      planned(spark.table("graft_st.db.t1").where(col("s") >= "b"))
    }
    assert(ns == total / 2 && footerS == 0L,
      s"s >= 'b' must keep only the second insert's files ($ns of $total)")
    // IsNull on a no-null column: every file provably dropped
    val (nn, footerN) = probes {
      planned(spark.table("graft_st.db.t1").where(col("s").isNull))
    }
    assert(nn == 0 && footerN == 0L)
  }

  test("negation is sound: NOT(k = const) drops only single-value files") {
    sql("CREATE TABLE graft_st.db.t2 (k BIGINT, v BIGINT)")
    sql("INSERT INTO graft_st.db.t2 SELECT 7, id FROM range(0, 50)") // all k=7
    sql("INSERT INTO graft_st.db.t2 SELECT id, id FROM range(0, 50)") // mixed
    val dir2 = new org.apache.hadoop.fs.Path(s"$warehouse/db/t2")
    val total = GraftTable.dataFiles(
      dir2.getFileSystem(spark.sessionState.newHadoopConf()), dir2).size
    val df = spark.table("graft_st.db.t2").where(not(col("k") === 7L))
    val (n, footer) = probes(planned(df))
    assert(n == total / 2 && footer == 0L,
      s"every all-7 file must drop via allMatch(k=7) ($n of $total kept)")
    assert(df.count() == 49) // mixed rows minus the one k=7 row
  }

  test("files without stats fall back to footer probes; analyze backfills") {
    sql("CREATE TABLE graft_st.db.t3 (k BIGINT, v BIGINT)")
    sql("INSERT INTO graft_st.db.t3 SELECT id, id FROM range(0, 100)")
    sql("INSERT INTO graft_st.db.t3 SELECT id, id FROM range(1000, 1100)")
    // simulate a pre-stats table / foreign writer
    def rmStats(): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(statsDir("t3"))
    }
    rmStats()
    val dir3 = new org.apache.hadoop.fs.Path(s"$warehouse/db/t3")
    val total = GraftTable.dataFiles(
      dir3.getFileSystem(spark.sessionState.newHadoopConf()), dir3).size
    val (n1, footer1) = probes {
      planned(spark.table("graft_st.db.t3").where(col("k") === 5L))
    }
    // planInputPartitions may run more than once per query plan — the
    // claim is probes-per-file >= 1 without stats vs ZERO with them
    assert(n1 == 1 && footer1 >= total.toLong,
      s"without stats every file is footer-probed (probed $footer1 of " +
        s"$total), pruning still exact via row-group stats")
    val lifted = GraftMaintenance.analyzeTable(spark, TestTables.at(s"$warehouse/db/t3"))
    assert(lifted == total)
    val (n2, footer2) = probes {
      planned(spark.table("graft_st.db.t3").where(col("k") === 5L))
    }
    assert(n2 == 1 && footer2 == 0L, "backfilled stats plan from metadata")
    assert(GraftMaintenance.analyzeTable(spark, TestTables.at(s"$warehouse/db/t3")) == 0)
  }

  test("COW replace and compaction keep the stats log consistent") {
    sql("CREATE TABLE graft_st.db.t4 (k BIGINT, v BIGINT)")
    sql("INSERT INTO graft_st.db.t4 SELECT id, 0 FROM range(0, 100)")
    sql("INSERT INTO graft_st.db.t4 SELECT id, 0 FROM range(1000, 1100)")
    sql("UPDATE graft_st.db.t4 SET v = 1 WHERE k = 50")
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/t4")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val live = GraftTable.dataFiles(fs, dir)
      .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    val recorded = GraftFileLog.stats(fs, dir).keySet
    assert(recorded == live,
      s"stats must track exactly the live files: $recorded vs $live")
    val (n, footer) = probes {
      planned(spark.table("graft_st.db.t4").where(col("k") === 1050L))
    }
    assert(n == 1 && footer == 0L, "rewritten files carry fresh stats")
    // compaction goes through Spark's writer -> stats lifted from footers
    GraftMaintenance.compactTable(spark, TestTables.at(s"$warehouse/db/t4"),
      targetBytes = 1L << 20, sortCols = Seq("k"))
    val after = GraftFileLog.stats(fs, dir).keySet
    val liveAfter = GraftTable.dataFiles(fs, dir)
      .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    assert(after == liveAfter)
    assert(spark.table("graft_st.db.t4").where(col("v") === 1).count() == 1)
  }

  test("merge-on-read: DV deletes keep stats sound (over-approximation)") {
    sql("""CREATE TABLE graft_st.db.t5 (k BIGINT, v BIGINT)
          |TBLPROPERTIES('merge-on-read'='true')""".stripMargin)
    sql("INSERT INTO graft_st.db.t5 SELECT id, id FROM range(0, 100)")
    sql("DELETE FROM graft_st.db.t5 WHERE k < 10")
    // the file's recorded min (0) is stale but SOUND: pruning may keep,
    // never drop, so the survivors are exact
    val (rows, footer) = probes {
      spark.table("graft_st.db.t5").where(col("k") < 20).count()
    }
    assert(rows == 10L && footer == 0L)
    // fold re-lifts: min now 10, a k<5 scan plans zero files
    GraftMaintenance.materializeDeletes(spark, TestTables.at(s"$warehouse/db/t5"))
    val (n, footer2) = probes {
      planned(spark.table("graft_st.db.t5").where(col("k") < 5))
    }
    assert(n == 0 && footer2 == 0L,
      "post-fold stats must reflect the tightened range")
  }

  test("NaN poisons float/double bounds, null counts survive") {
    sql("CREATE TABLE graft_st.db.t6 (k BIGINT, x DOUBLE)")
    sql("INSERT INTO graft_st.db.t6 VALUES (1, 1.0), (2, double('NaN')), " +
      "(3, 5.0), (4, NULL)")
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/t6")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // VALUES rows may split across tasks -> one file per row; the file
    // holding the NaN row must be poisoned (no bounds despite 0 nulls),
    // and null counts must sum across the commit
    val all = GraftFileLog.stats(fs, dir).values.toSeq
    assert(all.map(_.cols("x").nulls).sum == 1)
    assert(all.exists(st => st.cols("x").min.isEmpty &&
      st.cols("x").max.isEmpty && st.cols("x").nulls == 0 && st.rows > 0),
      s"the NaN row's file must carry NO bounds (total order broken): $all")
    // Spark orders NaN ABOVE every double: x > 100.0 must return the NaN
    // row — this is exactly why the poisoning is a correctness matter: a
    // recorded max of 5.0 would have pruned the file and LOST the row
    val (n, _) = probes {
      planned(spark.table("graft_st.db.t6").where(col("x") > 100.0))
    }
    assert(n >= 1)
    assert(spark.table("graft_st.db.t6").where(col("x") > 100.0).count() == 1)
  }

  test("purge hygiene: erased values vanish from the stats log too") {
    sql("""CREATE TABLE graft_st.db.t7 (k BIGINT, email STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_st.db.t7 VALUES (1, 'alice@keep.example')")
    sql("INSERT INTO graft_st.db.t7 VALUES (2, 'zzsecret@erase.example')")
    // the secret is a recorded max bound right now
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/t7")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    def statsBytes: String = {
      val d = statsDir("t7")
      if (!d.exists) "" else d.listFiles().filter(_.isFile).map(f =>
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .mkString("\n")
    }
    assert(statsBytes.contains("zzsecret"))
    val t7 = GraftTable.load(spark, "graft_st", "db.t7")
    GraftMaintenance.purge(spark, "graft_st", t7,
      "email = 'zzsecret@erase.example'")
    assert(GraftMaintenance.purgedCompletely(spark, t7,
      "email = 'zzsecret@erase.example'"))
    assert(!statsBytes.contains("zzsecret"),
      "purge must erase statistics holding the purged value")
    assert(spark.table("graft_st.db.t7").count() == 1)
  }

  test("history x stats: time travel plans from stats; vacuum prunes them") {
    sql("""CREATE TABLE graft_st.db.t8 (k BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_st.db.t8 SELECT id, id FROM range(0, 100)")
    sql("INSERT INTO graft_st.db.t8 SELECT id, id FROM range(1000, 1100)")
    val (n, footer) = probes {
      planned(sql("SELECT * FROM graft_st.db.t8 VERSION AS OF 2")
        .where(col("k") === 5L))
    }
    assert(n == 1 && footer == 0L, "pinned reads prune from stats too")
    // truncate-by-overwrite then vacuum: expired files lose their stats
    sql("INSERT OVERWRITE graft_st.db.t8 SELECT id, id FROM range(5, 6)")
    GraftMaintenance.vacuum(spark, TestTables.at(s"$warehouse/db/t8"), keepLast = 1)
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/t8")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val live = GraftTable.dataFiles(fs, dir)
      .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    assert(GraftFileLog.stats(fs, dir).keySet == live)
  }

  test("tracker matches a naive reference on randomized typed rows") {
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("d", DoubleType),
      StructField("s", StringType), StructField("dec", DecimalType(10, 2)),
      StructField("b", BooleanType), StructField("ts", TimestampType)))
    val rng = new scala.util.Random(42)
    val tracker = new GraftStats.Tracker(schema)
    val rows = (1 to 500).map { _ =>
      val vals: Array[Any] = Array(
        if (rng.nextInt(10) == 0) null else java.lang.Long.valueOf(rng.nextLong() % 100000),
        if (rng.nextInt(10) == 0) null else java.lang.Double.valueOf(rng.nextGaussian() * 50),
        if (rng.nextInt(10) == 0) null
        else org.apache.spark.unsafe.types.UTF8String.fromString(
          rng.alphanumeric.take(rng.nextInt(8)).mkString + "é"),
        if (rng.nextInt(10) == 0) null
        else org.apache.spark.sql.types.Decimal(
          BigDecimal(rng.nextInt(100000)) / 100, 10, 2),
        if (rng.nextInt(10) == 0) null else java.lang.Boolean.valueOf(rng.nextBoolean()),
        if (rng.nextInt(10) == 0) null else java.lang.Long.valueOf(rng.nextLong() % (1L << 48)))
      vals
    }
    rows.foreach { vals =>
      tracker.update(new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(vals))
    }
    val st = tracker.result(0L)
    assert(st.rows == 500)
    def nonNull(i: Int) = rows.map(_(i)).filter(_ != null)
    assert(st.cols("l").min.get.toLong == nonNull(0).map(_.asInstanceOf[Long]).min)
    assert(st.cols("l").max.get.toLong == nonNull(0).map(_.asInstanceOf[Long]).max)
    assert(st.cols("l").nulls == rows.count(_(0) == null))
    assert(st.cols("d").min.get.toDouble == nonNull(1).map(_.asInstanceOf[Double]).min)
    assert(st.cols("s").min.get ==
      nonNull(2).map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
        .min(Ordering.fromLessThan[org.apache.spark.unsafe.types.UTF8String](
          (a, b) => a.compareTo(b) < 0)).toString)
    assert(BigDecimal(st.cols("dec").max.get) ==
      nonNull(3).map(_.asInstanceOf[org.apache.spark.sql.types.Decimal]
        .toBigDecimal).max)
    assert(st.cols("ts").max.get.toLong ==
      nonNull(5).map(_.asInstanceOf[Long]).max)
  }

  test("skip-effectiveness report separates clustered from scattered columns") {
    graft.GraftExtensions.register(spark)
    sql("""CREATE TABLE graft_st.db.skiprep (seq BIGINT, scat BIGINT, s STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    // 8 files: `seq` ranges are DISJOINT per file (range-clustered),
    // `scat` spans the full domain in every file (scattered)
    (0 until 8).foreach { i =>
      spark.range(i * 100L, i * 100L + 100).toDF("seq")
        .withColumn("scat", (col("seq") * 37) % 800)
        .withColumn("s", concat(lit("v"), col("seq")))
        .coalesce(1)
        .writeTo("graft_st.db.skiprep").append()
    }
    val rep = sql("SELECT * FROM graft_skip_stats('graft_st', 'db.skiprep')")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2)))
      .toMap
    assert(rep.keySet == Set("seq", "scat", "s"), s"got ${rep.keySet}")
    assert(rep("seq")._1 == 8 && rep("scat")._1 == 8)
    // clustered: zero overlap; scattered: (near-)total overlap
    assert(rep("seq")._2 == 0.0,
      s"disjoint per-file ranges must report 0 overlap, got ${rep("seq")._2}")
    assert(rep("scat")._2 > 0.9,
      s"full-domain ranges must report ~1 overlap, got ${rep("scat")._2}")
    // the advisory is actionable: re-clustering by the scattered column
    // collapses its overlap
    GraftMaintenance.compactTable(spark, TestTables.at(s"$warehouse/db/skiprep"),
      targetBytes = 4096, sortCols = Seq("scat"))
    val rep2 = sql("SELECT * FROM graft_skip_stats('graft_st', 'db.skiprep')")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(rep2("scat") < rep("scat")._2 / 2,
      s"Z-order by scat must collapse its overlap: ${rep("scat")._2} -> ${rep2("scat")}")
  }

  test("stats log stays O(segments) across many commits (amortized consolidation)") {
    sql("""CREATE TABLE graft_st.db.many (id BIGINT, grp BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    val nCommits = 100
    (0 until nCommits).foreach { i =>
      spark.range(i * 10L, i * 10L + 10).toDF("id")
        .withColumn("grp", lit(i.toLong)).coalesce(1)
        .writeTo("graft_st.db.many").append()
    }
    // every scan's PLANNING reads this log — after 100 commits it must
    // hold a bounded file count, not one file per commit
    val logFiles = statsDir("many").listFiles()
      .filter(_.getName.endsWith(".txt"))
    assert(logFiles.length <= GraftFileLog.MaxFiles + 1,
      s"stats log grew to ${logFiles.length} files over $nCommits commits")
    // no entry was lost in the folds: every data file still has stats,
    // and pruning still plans exactly the matching commit's file
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/many")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val all = GraftFileLog.stats(fs, dir)
    assert(all.size == nCommits,
      s"expected $nCommits stats entries, got ${all.size}")
    val (n, probed) = probes(
      spark.table("graft_st.db.many").where(col("grp") === 42).count())
    assert(n == 10 && probed == 0,
      s"pruning after consolidation must stay footer-free (probes=$probed)")
    assert(planned(
      spark.table("graft_st.db.many").where(col("grp") === 42)) == 1)
  }
}
