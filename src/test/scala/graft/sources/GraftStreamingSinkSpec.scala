package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Native streaming sink (`writeStream.toTable` on a graft history
  * table): epochs are ordinary append commits with an exactly-once
  * transaction marker inside the manifest's atomic unit — replayed
  * epochs are skipped, layout routing and CHECK constraints apply per
  * batch, and the committed table tails like any other history table.
  */
class GraftStreamingSinkSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_ssink_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_ss", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ss.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_ss.db")
  }

  test("writeStream.toTable lands micro-batches as append commits") {
    sql("""CREATE TABLE graft_ss.db.t (id BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Long]
    val q = in.toDF().select(col("value").as("id"),
        concat(lit("v"), col("value")).as("v"))
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ssink_cp").toString)
      .toTable("graft_ss.db.t")
    try {
      in.addData(0L until 100L: _*)
      q.processAllAvailable()
      in.addData(100L until 150L: _*)
      q.processAllAvailable()
    } finally q.stop()
    val t = spark.table("graft_ss.db.t")
    assert(t.count() == 150)
    assert(t.where(col("id") === 123L).collect().map(_.getString(1)).toSeq ==
      Seq("v123"))
    // each epoch is an append commit carrying its txn marker
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/t")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val vs = GraftTable.manifestVersions(fs, dir)
    assert(vs.size >= 3) // v1 empty + 2 epochs
    assert(GraftTable.commitKind(fs, dir, vs.last)
      .contains(GraftTable.KindAppend))
    val meta = GraftTable.manifestMeta(fs, dir, vs.last)
    assert(meta.keys.exists(_.startsWith("txn:")),
      s"the newest manifest must carry the stream's txn marker, got $meta")
  }

  test("a replayed epoch is skipped exactly-once; markers survive appends") {
    sql("""CREATE TABLE graft_ss.db.eo (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    val parts = spark.sessionState.catalogManager.catalog("graft_ss")
      .asInstanceOf[GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "eo")).asInstanceOf[GraftTable]
    val schema = parts.schema()
    val sw = new GraftStreamingWrite(parts, schema, "q-replay-test")
    val info = new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }
    def stageEpoch(epoch: Long, values: Seq[Long]) = {
      val f = sw.createStreamingWriterFactory(info)
      val w = f.createWriter(0, epoch, epoch)
      values.foreach { v =>
        val r = new GenericInternalRow(1); r.update(0, v); w.write(r)
      }
      w.commit()
    }
    sw.commit(0L, Array(stageEpoch(0L, 0L until 10L)))
    assert(spark.table("graft_ss.db.eo").count() == 10)
    // the replay: same epoch, freshly staged bytes — must be a no-op
    sw.commit(0L, Array(stageEpoch(0L, 0L until 10L)))
    assert(spark.table("graft_ss.db.eo").count() == 10,
      "a replayed epoch must not double-commit")
    sw.commit(1L, Array(stageEpoch(1L, 10L until 15L)))
    assert(spark.table("graft_ss.db.eo").count() == 15)
    // an unrelated batch append must not erase the txn memory: a fresh
    // writer instance (post-restart) still skips the replay
    spark.range(100, 110).toDF("id").writeTo("graft_ss.db.eo").append()
    val sw2 = new GraftStreamingWrite(parts, schema, "q-replay-test")
    sw2.commit(1L, Array(stageEpoch(1L, 10L until 15L)))
    assert(spark.table("graft_ss.db.eo").count() == 25,
      "the marker must survive an interleaved batch append")
  }

  test("streaming into a days() table keeps layout, pruning and CHECKs") {
    sql("""CREATE TABLE graft_ss.db.ev (id BIGINT, ts TIMESTAMP, cents BIGINT)
          |PARTITIONED BY (days(ts))
          |TBLPROPERTIES('history'='true',
          |  'graft.check.cents_pos'='cents > 0')""".stripMargin)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1_700_000_000_000_000L
    val in = MemoryStream[Long]
    val q = in.toDF().select(col("value").as("id"),
        timestamp_micros(lit(base) + col("value") * lit(21_600_000_000L))
          .as("ts"),
        (col("value") + 1).as("cents"))
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ssink_cp2").toString)
      .toTable("graft_ss.db.ev")
    try {
      in.addData(0L until 80L: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("graft_ss.db.ev").count() == 80)
    val dayDirs = new java.io.File(s"$warehouse/db/ev").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("ts_day="))
    assert(dayDirs >= 20, s"epochs must land day-routed (got $dayDirs dirs)")
    // raw-ts predicates prune the streamed layout
    val day2 = spark.table("graft_ss.db.ev")
      .where(col("ts") >= timestamp_micros(lit(base + 2L * 86_400_000_000L)) &&
        col("ts") < timestamp_micros(lit(base + 3L * 86_400_000_000L)))
    assert(day2.rdd.getNumPartitions < dayDirs)
    assert(day2.count() == 4)
    // a violating batch fails the QUERY, not the table: nothing lands
    val in2 = MemoryStream[Long]
    val q2 = in2.toDF().select(col("value").as("id"),
        timestamp_micros(lit(base)).as("ts"),
        (col("value") - 100).as("cents")) // negative → CHECK violation
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ssink_cp3").toString)
      .toTable("graft_ss.db.ev")
    in2.addData(1L)
    intercept[Exception](q2.processAllAvailable())
    q2.stop()
    assert(spark.table("graft_ss.db.ev").count() == 80,
      "a CHECK-violating epoch must leave the table unchanged")
  }

  test("index-on-write entries land with each streaming epoch") {
    sql("""CREATE TABLE graft_ss.db.iw (id BIGINT, body STRING)
          |TBLPROPERTIES('history'='true',
          |              'index.bloom.cols'='id',
          |              'index.trgm.cols'='body')""".stripMargin)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Long]
    val q = in.toDF().select(col("value").as("id"),
        concat(lit("epoch mark"), col("value") % 2, lit("z body")).as("body"))
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ssink_cp_iw").toString)
      .toTable("graft_ss.db.iw")
    try {
      in.addData(0L until 50L: _*)
      q.processAllAvailable()
      in.addData(50L until 100L: _*)
      q.processAllAvailable()
    } finally q.stop()
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/iw")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val live = GraftTable.dataFiles(fs, dir)
      .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    val idx = GraftFileLog.blooms(fs, dir)
    // every committed epoch file carries BOTH entries, no build call ever
    assert(live.nonEmpty && live.forall(n =>
      idx.contains((n, "id")) && idx.contains((n, "body#trgm"))),
      s"missing index entries: live=$live idxKeys=${idx.keySet}")
    // and they prune: an absent key / absent needle plans zero files
    assert(spark.table("graft_ss.db.iw").where(col("id") === 777777L)
      .count() == 0)
    assert(spark.table("graft_ss.db.iw")
      .where(col("body").contains("zzqxv")).count() == 0)
    assert(spark.table("graft_ss.db.iw")
      .where(col("body").contains("mark1z")).count() == 50)
  }

  test("plain tables refuse the streaming sink loudly") {
    sql("CREATE TABLE graft_ss.db.plain (id BIGINT)")
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Long]
    val ex = intercept[Exception] {
      val q = in.toDF().select(col("value").as("id"))
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("graft_ssink_cp4").toString)
        .toTable("graft_ss.db.plain")
      in.addData(1L)
      try q.processAllAvailable() finally q.stop()
    }
    assert(ex.getMessage != null)
  }

  test("a zombie driver's duplicate epoch is dropped against the refreshed log") {
    sql("""CREATE TABLE graft_ss.db.zt (id BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Long]
    val q = in.toDF().select(col("value").as("id"), lit("a").as("v"))
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ssink_zcp").toString)
      .toTable("graft_ss.db.zt")
    try {
      in.addData(0L until 10L: _*)
      q.processAllAvailable() // epoch 0 commits; driver caches epoch 0
      // forge the zombie race: another driver of the SAME query already
      // committed a newer epoch — its marker sits in the refreshed head,
      // not in this driver's cache
      val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/zt")
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      GraftTable.commitRetrying(fs, dir, meta = Map(s"txn:${q.id}" -> "5") ++
        GraftTable.kindMeta(GraftTable.KindAppend))(_.entries)
      // this driver's epochs 1.. are all <= the raced marker: their
      // commits must drop (files unlanded), never double-apply
      in.addData(100L until 110L: _*)
      q.processAllAvailable()
      assert(spark.table("graft_ss.db.zt").count() == 10,
        "an epoch at-or-below the raced marker must not land rows")
      assert(spark.table("graft_ss.db.zt")
        .where(col("id") >= 100L).count() == 0)
      // and the dropped epoch left no unreferenced data files behind
      val referenced = GraftTable
        .headState(fs, dir, None)._2.map(e =>
          new org.apache.hadoop.fs.Path(e.file).getName).toSet
      val onDisk = GraftTable.dataFiles(fs, dir)
        .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
      assert(onDisk == referenced,
        s"dropped epochs must unland their bytes: ${onDisk -- referenced}")
    } finally q.stop()
  }

  test("identity tables stream: per-epoch watermark allocation, unique ids") {
    sql("""CREATE TABLE graft_ss.db.facts
          |(id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    // batch-seed some generated ids so the stream must CONTINUE past them
    sql("INSERT INTO graft_ss.db.facts (v) VALUES ('seed1'), ('seed2')")
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Long]
    val q = in.toDF()
      .select(concat(lit("s"), col("value")).as("v"))  // identity col omitted
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ssink_idcp").toString)
      .toTable("graft_ss.db.facts")
    try {
      in.addData(0L until 40L: _*)
      q.processAllAvailable()
      in.addData(40L until 70L: _*)
      q.processAllAvailable()
    } finally q.stop()
    val t = spark.table("graft_ss.db.facts")
    assert(t.count() == 72)
    // ids are engine-assigned, non-null, and UNIQUE across the batch
    // seed and both epochs (per-epoch watermark must have advanced)
    assert(t.where(col("id").isNull).count() == 0)
    assert(t.select("id").distinct().count() == 72,
      "identity values must be unique across batch seed + stream epochs")
    // a later batch insert continues past the stream's watermark
    sql("INSERT INTO graft_ss.db.facts (v) VALUES ('post')")
    val t2 = spark.table("graft_ss.db.facts")
    assert(t2.select("id").distinct().count() == 73)
    // the published watermark rides the manifest meta like batch commits
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/facts")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val meta = GraftTable.manifestMeta(fs, dir,
      GraftTable.manifestVersions(fs, dir).last)
    assert(meta.contains("idwm:id"),
      s"head manifest must carry the identity watermark, got ${meta.keys}")
    // GENERATED ALWAYS refuses explicit stream values too
    val in2 = MemoryStream[Long]
    val q2 = in2.toDF().select(col("value").as("id"), lit("x").as("v"))
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ssink_idcp2").toString)
      .toTable("graft_ss.db.facts")
    val ex = intercept[Exception] {
      try { in2.addData(9999L); q2.processAllAvailable() } finally q2.stop()
    }
    assert(ex.getMessage != null)
    assert(spark.table("graft_ss.db.facts").where(col("id") === 9999L)
      .count() == 0, "the refused epoch must not land")
  }
}
