package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsWrite, TableCatalog}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Fixed costs on the parquet path that do no data work: what a task
  * carries (a conf handle, never the conf), the string order the stats
  * layer compares with (bytes, never `UTF8String.compareTo`), which
  * metadata-log entries a scan decodes (its snapshot's only), the bloom
  * log a table without declared indexes never touches, and the commit a
  * compaction with nothing to fold must not make.
  */
class GraftFixedCostSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_fixed_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_fc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_fc.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_fc.db")
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFs].getName)
    spark.conf.set("spark.sql.catalog.graft_fcc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_fcc.warehouse",
      s"countfs://$warehouse/counted")
    sql("CREATE NAMESPACE IF NOT EXISTS graft_fcc.db")
  }

  private def scanOf(q: String): GraftScan =
    sql(q).queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.asInstanceOf[GraftScan]
    }.head

  private def tableDir(t: String) = new Path(s"$warehouse/db/$t")

  // ---- task payload -----------------------------------------------------

  /** Java-serialized bytes of `o` plus every class the stream wrote. */
  private def serialize(o: AnyRef): (Array[Byte], Set[Class[_]]) = {
    val bytes = new java.io.ByteArrayOutputStream()
    val classes = Set.newBuilder[Class[_]]
    val out = new java.io.ObjectOutputStream(bytes) {
      enableReplaceObject(true)
      override def replaceObject(obj: AnyRef): AnyRef = {
        if (obj != null) classes += obj.getClass
        obj
      }
    }
    out.writeObject(o)
    out.close()
    (bytes.toByteArray, classes.result())
  }

  private def assertNoConf(what: String, o: AnyRef, marker: String): Unit = {
    val (bytes, classes) = serialize(o)
    info(s"$what: ${bytes.length} bytes serialized")
    assert(!classes.exists(classOf[Configuration].isAssignableFrom(_)),
      s"$what carries a Configuration object")
    // a conf written through Configuration.write leaves its keys and
    // values in the stream as text: the session's marker must not be there
    assert(!new String(bytes, UTF_8).contains(marker),
      s"$what carries the session's Hadoop conf")
    assert(bytes.length < 16 * 1024, s"$what is ${bytes.length} bytes")
  }

  test("scan and write factories ship a conf handle, not the conf") {
    sql("CREATE TABLE graft_fc.db.pay (id BIGINT, s STRING, d DATE) " +
      "PARTITIONED BY (days(d))")
    sql("INSERT INTO graft_fc.db.pay VALUES (1, 'a', DATE'2026-01-01'), " +
      "(2, 'b', DATE'2026-01-02')")
    val marker = s"graft-payload-marker-${java.util.UUID.randomUUID()}"
    spark.conf.set("graft.test.payload.marker", marker)
    try {
      val scan = scanOf("SELECT id, s FROM graft_fc.db.pay WHERE id > 0")
      val readers = scan.toBatch.createReaderFactory()
      assertNoConf("reader factory", readers, marker)

      val table = spark.sessionState.catalogManager.catalog("graft_fc")
        .asInstanceOf[TableCatalog].loadTable(Identifier.of(Array("db"), "pay"))
        .asInstanceOf[SupportsWrite]
      val writeSchema = StructType.fromDDL("id BIGINT, s STRING, d DATE")
      val batch = table.newWriteBuilder(new LogicalWriteInfo {
        override def options(): CaseInsensitiveStringMap =
          CaseInsensitiveStringMap.empty()
        override def queryId(): String = "payload"
        override def schema(): StructType = writeSchema
      }).build().toBatch
      val writers = batch.createBatchWriterFactory(new PhysicalWriteInfo {
        override def numPartitions(): Int = 2
      })
      try assertNoConf("writer factory", writers, marker)
      finally batch.abort(Array.empty)
    } finally spark.conf.unset("graft.test.payload.marker")
    assert(sql("SELECT count(*) FROM graft_fc.db.pay").head().getLong(0) == 2L)
  }

  // ---- one string order -------------------------------------------------

  /** Unsigned UTF-8 byte order, the reference the stats layer must match. */
  private def byteOrder(a: String, b: String): Int = {
    val x = a.getBytes(UTF_8)
    val y = b.getBytes(UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Run `body` with `spark.testing` set, under which Spark 4's
    * `UTF8String.compareTo` throws; the property is restored after.
    */
  private def underSparkTesting[T](body: => T): T = {
    val saved = Option(System.getProperty("spark.testing"))
    System.setProperty("spark.testing", "true")
    try body
    finally saved match {
      case Some(v) => System.setProperty("spark.testing", v)
      case None => System.clearProperty("spark.testing")
    }
  }

  test("string stats, sketches and pruning order by bytes, never compareTo") {
    // code points whose UTF-16 order differs from their UTF-8 byte order
    // (U+FF5E vs a supplementary emoji), case, a prefix, the empty string
    val values = Seq("b", "a", "ab", "", "Z", "é", "～", "😀", "zz", "a b")
    val sorted = values.sortWith(byteOrder(_, _) < 0)
    val schema = StructType(Seq(StructField("s", StringType)))
    underSparkTesting {
      // the hazard is live: compareTo refuses while spark.testing is set
      intercept[UnsupportedOperationException](
        UTF8String.fromString("a").compareTo(UTF8String.fromString("b")))

      val tracker = new GraftStats.Tracker(schema)
      values.foreach(v =>
        tracker.update(InternalRow(UTF8String.fromString(v))))
      val st = tracker.result(1L)
      val cs = st.cols("s")
      assert(cs.min.contains(sorted.head) && cs.max.contains(sorted.last),
        s"min/max ${cs.min}/${cs.max}, bytes say ${sorted.head}/${sorted.last}")

      // fewer items than k: the sketch is exact, so each item's rank is
      // its position in byte order
      val kll = GraftStats.mergedKllStr(Seq(st), "s").get
      sorted.zipWithIndex.foreach { case (v, i) =>
        assert(kll.getRank(UTF8String.fromString(v)) == (i + 1).toDouble / sorted.size,
          s"rank of '$v'")
      }
      assert(kll.getQuantile(0.0).toString == sorted.head &&
        kll.getQuantile(1.0).toString == sorted.last)

      for (a <- values; b <- values)
        assert(GraftStats.cmpStored(StringType, a, b).map(Integer.signum)
          .contains(Integer.signum(byteOrder(a, b))), s"cmpStored('$a', '$b')")

      // pruning against a recorded range: a probe above the byte-order max
      // drops the file, one inside it keeps the file
      import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
      assert(GraftStats.canDrop(Seq(GreaterThan("s", sorted.last)), schema, st))
      assert(!GraftStats.canDrop(Seq(EqualTo("s", "～")), schema, st))
    }
  }

  // ---- live stats-log entries -------------------------------------------

  test("a scan decodes only its snapshot's stats-log entries") {
    sql("CREATE TABLE graft_fc.db.hist (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES('history'='true')")
    for (k <- 0 until 3)
      sql(s"INSERT INTO graft_fc.db.hist SELECT id, id FROM range(${k * 100}, ${k * 100 + 100}, 1, 1)")
    // copy-on-write rewrites: each replaces one live file; the log keeps
    // the replaced files' entries for time travel
    for (n <- 1 to 4)
      sql(s"UPDATE graft_fc.db.hist SET v = v + $n WHERE id = ${(n % 3) * 100 + 7}")
    val dir = tableDir("hist")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val all = GraftFileLog.stats(fs, dir)

    val q = "SELECT * FROM graft_fc.db.hist"
    val scan = scanOf(q)
    val live = scan.snapshotEntryByName.keySet
    assert(live.size == 3 && all.size == 3 + 4,
      s"${live.size} live files, ${all.size} logged")
    // decoded entries compare through their encoding (sketches are arrays)
    def lines(m: Map[String, GraftStats.FileStats]): Set[String] =
      m.map { case (n, st) => GraftStats.encodeLine(n, st) }.toSet
    assert(lines(scan.statsByName) == lines(all.filter { case (n, _) => live.contains(n) }))

    val est = scan.estimateStatistics()
    assert(est.numRows().getAsLong == 300L)
    assert(est.sizeInBytes().getAsLong == live.toSeq.map(all(_).size).sum)
    assert(sql("SELECT sum(v) FROM graft_fc.db.hist").head().getLong(0) ==
      (0 until 300).sum + 1 + 2 + 3 + 4)

    // an entry of a replaced file that cannot be decoded: reading the
    // whole log fails on it, a scan never decodes it
    val dead = (all.keySet -- live).head
    val bad = fs.create(new Path(dir,
      s"${GraftFileLog.Stats.dirName}/stats-9999999999999-zzzzzzzz.txt"), false)
    try bad.write(s"$dead\t1\t1\tv,0,v1,v2,!not-base64!".getBytes(UTF_8))
    finally bad.close()
    intercept[IllegalArgumentException](GraftFileLog.stats(fs, dir))
    val again = scanOf(q)
    assert(lines(again.statsByName) == lines(scan.statsByName))
    assert(again.estimateStatistics().sizeInBytes() == est.sizeInBytes())
  }

  test("a scan decodes only its snapshot's bloom entries") {
    sql("CREATE TABLE graft_fc.db.blm (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES('history'='true', 'index.bloom.cols'='v')")
    for (k <- 0 until 3)
      sql(s"INSERT INTO graft_fc.db.blm SELECT id, id FROM range(${k * 100}, ${k * 100 + 100}, 1, 1)")
    // copy-on-write rewrites: the replaced files keep their bloom entries
    // for time travel
    for (n <- 1 to 2)
      sql(s"UPDATE graft_fc.db.blm SET v = v + $n WHERE id = ${n * 100 + 7}")
    val dir = tableDir("blm")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val q = "SELECT id FROM graft_fc.db.blm WHERE v = 150"
    val live = scanOf(q).snapshotEntryByName.keySet
    val dead = GraftFileLog.blooms(fs, dir).keySet.map(_._1) -- live
    assert(live.size == 3 && dead.size == 2, s"live $live, dead $dead")

    // an entry of a replaced file that cannot be decoded: reading the
    // whole index fails on it, a scan never decodes it
    val bad = fs.create(new Path(dir,
      s"${GraftFileLog.Bloom.dirName}/bloom-9999999999999-zzzzzzzz.txt"), false)
    try bad.write(s"${dead.head}\tv\t!not-base64!".getBytes(UTF_8))
    finally bad.close()
    intercept[IllegalArgumentException](GraftFileLog.blooms(fs, dir))
    assert(sql(q).collect().map(_.getLong(0)).toSeq == Seq(150L))
  }

  test("commits to tables without declared indexes never touch the bloom log") {
    sql("""CREATE TABLE graft_fcc.db.mor (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true', 'merge-on-read'='true')""".stripMargin)
    sql("CREATE TABLE graft_fcc.db.cow (id BIGINT, v BIGINT)")
    CountingFs.reset()
    for (t <- Seq("mor", "cow"); k <- 0 until 2)
      sql(s"INSERT INTO graft_fcc.db.$t SELECT id, id FROM range(${k * 100}, ${k * 100 + 100}, 1, 2)")
    // merge-on-read deltas, copy-on-write replaces (the eager one drops
    // the replaced files' entries) and a rewrite's post-landing step
    for (t <- Seq("mor", "cow")) {
      sql(s"UPDATE graft_fcc.db.$t SET v = v + 1 WHERE id = 7")
      sql(s"DELETE FROM graft_fcc.db.$t WHERE id = 150")
    }
    GraftMaintenance.compactTable(spark,
      TestTables.at(s"countfs://$warehouse/counted/db/mor"))
    val touched = CountingFs.touched
    assert(touched.exists(_.startsWith("create ")) &&
      touched.exists(_.contains(s"/${GraftFileLog.Stats.dirName}/")),
      "the counting file system sees the commits and their stats log")
    val bloom = touched.filter(_.contains(GraftFileLog.Bloom.dirName))
    assert(bloom.isEmpty, bloom.mkString("\n"))
    assert(sql("SELECT count(*), sum(v) FROM graft_fcc.db.mor").head() ==
      sql("SELECT count(*), sum(v) FROM graft_fcc.db.cow").head())
  }

  // ---- no-op day compaction ---------------------------------------------

  test("compacting an already compact days() history table adds no version") {
    sql("""CREATE TABLE graft_fc.db.days (id BIGINT, ts TIMESTAMP)
          |PARTITIONED BY (days(ts)) TBLPROPERTIES('history'='true')""".stripMargin)
    for (round <- 0 to 1)
      sql(s"""INSERT INTO graft_fc.db.days VALUES
             |(${round * 10 + 1}, TIMESTAMP '2026-08-01 01:00:00'),
             |(${round * 10 + 2}, TIMESTAMP '2026-08-02 01:00:00')""".stripMargin)
    val dir = tableDir("days")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    def listing: Set[String] = {
      val it = fs.listFiles(dir, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().getPath.toString
      b.result()
    }
    assert(GraftMaintenance.compactDayTable(spark, TestTables.at(dir)) == ((4, 2)))
    val versions = GraftTable.manifestVersions(fs, dir)
    val before = listing

    assert(GraftMaintenance.compactDayTable(spark, TestTables.at(dir)) == ((2, 2)))
    assert(GraftTable.manifestVersions(fs, dir) == versions)
    assert(listing == before, s"files appeared: ${listing -- before}")
    assert(sql("SELECT sum(id) FROM graft_fc.db.days").head().getLong(0) == 1 + 2 + 11 + 12)
  }
}
