package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import graft.Tables
import graft.operators.{Cdc, IncrementalAgg}
import graft.streaming.StreamOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Driver-gate entries that RUN Structured Streaming operators (SURVEY
  * §2.G) over a bounded MemoryStream and dump the final result — turning
  * three self-graded streaming specs into DuckDB-oracle rows. Each feeds
  * real table data through the streaming operator in several ordered
  * micro-batches, so cross-batch state (CDC fold, MV merge, LOCF carry)
  * is genuinely exercised; the oracle is the equivalent batch SQL.
  *
  * The driver-side collect of the feed is the TEST HARNESS (MemoryStream
  * is driver-resident by design), not the operator's scale path — the
  * operators themselves run identically from a Kafka/file source.
  */
object StreamingQueries {

  private val sinkId = new AtomicInteger(0)

  /** Fold `chunks` through a foreachBatch-style streaming op, one
    * micro-batch per chunk, and return the last snapshot.
    */
  private def foldBatches[T](in: MemoryStream[T], chunks: Iterator[Seq[T]],
                             q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    finally q.stop()

  /** Run `body` (which STARTS the streaming query — the partition count is
    * fixed at query start) under a small shuffle-partition count: each
    * micro-batch commits one state-store delta PER partition, so a
    * 32-partition session pays 32 × batches store commits for a
    * driver-bounded feed — measured as the dominant cost (10s → ~2s).
    * Production streams size this to their real key cardinality.
    */
  private def withFewPartitions[T](s: SparkSession)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // continuous CDC apply: the etl_cdc_merge changelog fed as THREE
    // seq-ordered micro-batches through applyChangelogStream; the folded
    // snapshot must equal the one-shot batch merge (same oracle). Batches
    // are split on seq ranges, so later batches overwrite earlier state —
    // the cross-batch path a single-batch run would not exercise
    "stream_cdc_apply" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val snap = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val changes = Tables.orders(s, dir)
        .where(col("o_orderkey") < 20000)
        .select(
          col("o_custkey"), concat(lit("upd_"), col("o_orderkey")),
          col("o_totalprice"), col("o_orderkey"),
          when(col("o_orderkey") % 20 === 0, Cdc.OpDelete).otherwise(Cdc.OpUpsert))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getString(4)))
        .sortBy(_._4)
      val in = MemoryStream[(Long, String, Double, Long, String)]
      @volatile var latest: DataFrame = snap
      withFewPartitions(s) {
        val q = StreamOps.applyChangelogStream(
          in.toDF().toDF("c_custkey", "c_name", "c_acctbal", "seq", "op"),
          snap, "c_custkey", "seq", "op")(df => latest = df)
        foldBatches(in, changes.grouped(changes.length / 3 + 1).map(_.toSeq), q)
      }
      latest.orderBy("c_custkey")
    },

    // the lakehouse table as a STREAM SOURCE: a history graft-catalog
    // table takes three INSERT commits, and a Structured Streaming query
    // reads them INCREMENTALLY off the manifest log (GraftMicroBatchStream
    // — offsets are manifest versions, each batch reads only the files
    // that commit appended) into a running complete-mode aggregate. The
    // final aggregate must equal the batch rollup over everything
    // committed — proving no commit was lost or double-delivered across
    // the incremental batches
    "stream_catalog_source" -> { (s, dir) =>
      val wh = Etl.scratch(s, "wh")
      s.conf.set("spark.sql.catalog.graft_wh", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_wh.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.mrg")
      s.sql("DROP TABLE IF EXISTS graft_wh.mrg.src")
      s.sql("""CREATE TABLE graft_wh.mrg.src (id BIGINT, status STRING, cents BIGINT)
              |TBLPROPERTIES ('history'='true')""".stripMargin)
      Tables.orders(s, dir).createOrReplaceTempView("graft_src_orders")
      val sink = s"graft_catalog_src_sink_${sinkId.incrementAndGet()}"
      val q = withFewPartitions(s) {
        s.readStream.table("graft_wh.mrg.src")
          .groupBy(col("status"))
          .agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("complete").start()
      }
      try {
        for (m <- 0 until 3) {
          s.sql(s"""INSERT INTO graft_wh.mrg.src
                   |SELECT o_orderkey, o_orderstatus,
                   |       CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                   |FROM graft_src_orders WHERE o_orderkey % 3 = $m""".stripMargin)
          q.processAllAvailable()
        }
      } finally q.stop()
      s.table(sink).orderBy("status")
    },

    // running per-key quantiles as cross-batch streaming state: KLL
    // sketches (binary measure columns) fold across THREE micro-batches
    // through maintainAggregateStream + MergeKll — values never cross a
    // batch boundary, only ~O(k) sketches do. Fixed-id feed, k well above
    // the feed size ⇒ the sketch never compacts and the folded p50/p95
    // ARE the ceil(r·n) order statistics (ROW_NUMBER oracle); the
    // approximation regime is bounds-asserted in KllSketchSpec
    "stream_quantiles" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import graft.expressions.KllSketchAgg
      val feed = Tables.events(s, dir).where(col("event_id") < 3000)
        .select(col("event_type"), col("value"), col("event_id"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .sortBy(_._3)
      val in = MemoryStream[(String, Double, Long)]
      val initial = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("sk",
            org.apache.spark.sql.types.BinaryType))))
      @volatile var latest: DataFrame = null
      withFewPartitions(s) {
        val q = StreamOps.maintainAggregateStream(
          in.toDF().toDF("event_type", "value", "event_id"),
          initial, Seq("event_type"),
          b => b.groupBy(col("event_type"))
            .agg(KllSketchAgg.kllSketch(col("value"), 8192).as("sk")),
          Seq("sk" -> IncrementalAgg.MergeKll))(df => latest = df)
        foldBatches(in, feed.grouped(feed.length / 3 + 1).map(_.toSeq), q)
      }
      latest.select(col("event_type"),
        KllSketchAgg.kllCount(col("sk")).as("n_vals"),
        KllSketchAgg.kllQuantile(col("sk"), 0.5).as("p50"),
        KllSketchAgg.kllQuantile(col("sk"), 0.95).as("p95"))
        .orderBy("event_type")
    },

    // the full lakehouse loop (bronze→silver medallion): a BRONZE history
    // table takes three INSERT commits; a streaming query consumes them
    // incrementally through GraftMicroBatchStream, aggregates each
    // micro-batch, and MERGEs the delta rollup into a SILVER catalog
    // table via catalogUpsertBatch — source offsets, the COW MERGE, and
    // the committed-batch marker all exercised in ONE pipeline. Per-batch
    // partial rollups of DISJOINT key slices would collide on re-merge,
    // so the fold re-aggregates running totals keyed by status: each
    // batch's delta is (status, sum, n) and MERGE adds it into the stored
    // row via the update path — here modeled as upsert-with-replace over
    // the running total carried in the batch (monoid fold proven ≡ batch)
    "stream_medallion" -> { (s, dir) =>
      val wh = Etl.scratch(s, "wh")
      s.conf.set("spark.sql.catalog.graft_wh", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_wh.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.mrg")
      s.sql("DROP TABLE IF EXISTS graft_wh.mrg.bronze")
      s.sql("DROP TABLE IF EXISTS graft_wh.mrg.silver")
      s.sql("""CREATE TABLE graft_wh.mrg.bronze (id BIGINT, status STRING, cents BIGINT)
              |TBLPROPERTIES ('history'='true')""".stripMargin)
      s.sql("CREATE TABLE graft_wh.mrg.silver (status STRING, sum_cents BIGINT, n BIGINT)")
      Tables.orders(s, dir).createOrReplaceTempView("graft_med_orders")
      val q = withFewPartitions(s) {
        s.readStream.table("graft_wh.mrg.bronze")
          .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            // delta rollup of THIS batch + the stored silver state →
            // merged running totals, upserted back (seq = batchId so the
            // in-batch latest-per-key dedupe is a no-op)
            val delta = batch.groupBy(col("status"))
              .agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n"))
            val stored = batch.sparkSession.table("graft_wh.mrg.silver")
            val merged = graft.operators.IncrementalAgg.merge(
              stored, delta, Seq("status"),
              Seq("sum_cents" -> graft.operators.IncrementalAgg.MergeSum,
                "n" -> graft.operators.IncrementalAgg.MergeSum))
              .withColumn("seq", lit(batchId))
              .withColumn("op", lit(graft.operators.Cdc.OpUpsert))
              .localCheckpoint(true)
            StreamOps.catalogUpsertBatch(merged, batchId, "graft_wh.mrg.silver",
              s"$wh/mrg/silver", "status", "seq", "op")
            ()
          }.start()
      }
      try {
        for (m <- 0 until 3) {
          s.sql(s"""INSERT INTO graft_wh.mrg.bronze
                   |SELECT o_orderkey, o_orderstatus,
                   |       CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                   |FROM graft_med_orders WHERE o_orderkey % 3 = $m""".stripMargin)
          q.processAllAvailable()
        }
      } finally q.stop()
      s.sql("SELECT status, sum_cents, n FROM graft_wh.mrg.silver ORDER BY status")
    },

    // streaming upsert into a REAL graft-catalog table: the same CDC feed
    // as stream_cdc_apply, but each micro-batch lands as a SQL MERGE INTO
    // through catalogUpsertStream — the production lakehouse sink where
    // applyChangelogStream's in-memory snapshot becomes a stored table.
    // Cross-batch semantics (later batches overwrite, deletes drop) now
    // ride on the catalog's copy-on-write MERGE + the committed-batch
    // marker, and the final TABLE state must equal the one-shot batch
    // fold (same oracle as stream_cdc_apply)
    // STREAMED EQ-DELETE UPSERT (round 11): the eqdelta fast path driven
    // from a stream — three micro-batches of keyed changes, each applied
    // as ONE O(change-set) equality-delete commit against a table that is
    // VALUE-PARTITIONED and ROW-LINEAGE at once (the strongest
    // composition this round added). Asserted in-query after the stream:
    // ids stay unique, ZERO updated keys re-minted across three epochs
    // (the carry survives per-batch), every commit is kind=eqdelta (the
    // O(batch) path, never a rewrite), and every file sits in its
    // partition directory. Keys are disjoint across batches, so the
    // folded state equals one big upsert — the oracle replays it as the
    // same FULL JOIN as etl_eq_upsert_part's.
    "stream_eq_upsert" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      graft.GraftExtensions.register(s)
      val wh = Etl.scratch(s, "wh")
      s.conf.set("spark.sql.catalog.graft_squ", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_squ.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_squ.db")
      s.sql("DROP TABLE IF EXISTS graft_squ.db.fact")
      s.sql("""CREATE TABLE graft_squ.db.fact
              |(ckey BIGINT, cents BIGINT, seg STRING)
              |PARTITIONED BY (seg)
              |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin)
      val segOf = when(col("o_orderkey") % 4 < 2, lit("p0")).otherwise(lit("p1"))
      val segFlipped =
        when(col("o_orderkey") % 4 < 2, lit("p1")).otherwise(lit("p0"))
      Tables.orders(s, dir)
        .where(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("ckey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"),
          segOf.as("seg"))
        .createOrReplaceTempView("graft_squ_base")
      s.sql("INSERT INTO graft_squ.db.fact SELECT * FROM graft_squ_base")
      val v1 = s.sql(
        "SELECT max(version) FROM graft_history('graft_squ', 'db.fact')")
        .collect()(0).getLong(0)
      // each key appears ONCE across all batches (LWW holds per batch AND
      // the fold equals one big upsert); key-bounded so the driver feed
      // stays small at every scale
      val changes = Tables.orders(s, dir)
        .where((col("o_orderkey") % 3 === 1 || col("o_orderkey") % 6 === 0)
          && col("o_orderkey") < 30000)
        .select(col("o_orderkey").as("ckey"),
          (floor(col("o_totalprice") * 100).cast("long") + 7).as("cents"),
          when(col("o_orderkey") % 6 === 0, segFlipped)
            .otherwise(segOf).as("seg"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sortBy(_._1)
      val in = MemoryStream[(Long, Long, String)]
      withFewPartitions(s) {
        val q = in.toDF().toDF("ckey", "cents", "seg")
          .writeStream
          .option("checkpointLocation",
            Etl.scratch(s, s"squ_cp_${java.util.UUID.randomUUID()}"))
          .foreachBatch { (batch: DataFrame, _: Long) =>
            if (!batch.isEmpty)
              graft.sources.GraftEqDelete.upsert(s, "graft_squ", "db.fact",
                batch, Seq("ckey"))
            ()
          }
          .start()
        foldBatches(in, changes.grouped(changes.length / 3 + 1).map(_.toSeq), q)
      }
      // every epoch was the O(batch) eqdelta commit, never a rewrite
      val tdir = new org.apache.hadoop.fs.Path(s"$wh/db/fact")
      val tfs = tdir.getFileSystem(s.sessionState.newHadoopConf())
      val kinds = graft.sources.GraftTable.manifestVersions(tfs, tdir)
        .filter(_ > v1)
        .flatMap(v => graft.sources.GraftTable.commitKind(tfs, tdir, v))
      require(kinds.nonEmpty &&
        kinds.forall(_ == graft.sources.GraftTable.KindEqDelta),
        s"stream_eq_upsert: every streamed epoch must commit as eqdelta, " +
          s"got $kinds")
      val uniq = s.sql("""SELECT COUNT(*) AS n, COUNT(DISTINCT _row_id) AS d
                        |FROM graft_squ.db.fact""".stripMargin).collect()(0)
      require(uniq.getLong(0) == uniq.getLong(1),
        "stream_eq_upsert: ids must stay unique across streamed epochs")
      val reId = s.sql(
        s"""SELECT COUNT(*) FROM
           |  (SELECT ckey, _row_id FROM graft_squ.db.fact VERSION AS OF $v1) b
           |  JOIN graft_squ.db.fact a
           |    ON a.ckey = b.ckey AND a._row_id <> b._row_id
           |""".stripMargin).collect()(0).getLong(0)
      require(reId == 0L,
        s"stream_eq_upsert: $reId updated keys re-minted — the lineage " +
          "carry must survive every micro-batch")
      val head = graft.sources.GraftTable.manifestVersions(tfs, tdir).last
      require(graft.sources.GraftTable.readFullEntries(tfs, tdir, head)
          .forall(_.file.contains("seg=")),
        "stream_eq_upsert: every file must sit in its partition directory")
      s.sql("""SELECT seg, ckey % 5 AS grp, COUNT(*) AS n,
              |  CAST(SUM(cents) AS BIGINT) AS sum_cents
              |FROM graft_squ.db.fact GROUP BY seg, ckey % 5
              |ORDER BY seg, grp""".stripMargin)
    },

    "stream_catalog_upsert" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val wh = Etl.scratch(s, "wh")
      s.conf.set("spark.sql.catalog.graft_wh", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_wh.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.mrg")
      s.sql("DROP TABLE IF EXISTS graft_wh.mrg.scu")
      s.sql("CREATE TABLE graft_wh.mrg.scu (c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE)")
      Tables.customer(s, dir).createOrReplaceTempView("graft_scu_customer")
      s.sql("""INSERT INTO graft_wh.mrg.scu
              |SELECT c_custkey, c_name, c_acctbal FROM graft_scu_customer""".stripMargin)
      val changes = Tables.orders(s, dir)
        .where(col("o_orderkey") < 20000)
        .select(
          col("o_custkey"), concat(lit("upd_"), col("o_orderkey")),
          col("o_totalprice"), col("o_orderkey"),
          when(col("o_orderkey") % 20 === 0, Cdc.OpDelete).otherwise(Cdc.OpUpsert))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getString(4)))
        .sortBy(_._4)
      val in = MemoryStream[(Long, String, Double, Long, String)]
      withFewPartitions(s) {
        val q = StreamOps.catalogUpsertStream(
          in.toDF().toDF("c_custkey", "c_name", "c_acctbal", "seq", "op"),
          "graft_wh.mrg.scu", s"$wh/mrg/scu", "c_custkey", "seq", "op")
        foldBatches(in, changes.grouped(changes.length / 3 + 1).map(_.toSeq), q)
      }
      s.sql("SELECT c_custkey, c_name, c_acctbal FROM graft_wh.mrg.scu ORDER BY c_custkey")
    },

    // tailing a table that receives MERGEs — the thing the plain append
    // source must refuse: a stream over the CHANGE FEED metadata table
    // (graft.db.t.changes) consumes row-level insert/delete images per
    // commit (offsets = manifest versions) while the table takes an
    // INSERT, a COW MERGE and a DELETE; folding `state ∖ deletes ∪
    // inserts` per commit inside foreachBatch must land exactly on the
    // table's final state (asserted in-query both directions; the oracle
    // replays the merge arithmetic). This is the flagship lakehouse loop
    // closed: stream_catalog_upsert WRITES merges, this reads them back
    // incrementally.
    // ROW-STABLE STREAMING CDC (round 10): tail the change feed of a
    // ROW-LINEAGE table and fold each commit's images by `_row_id` alone
    // — no business key anywhere in the fold. A COW rewrite's carried
    // pair replaces idempotently (same id out, same id in), an update
    // replaces by id, a delete-only id leaves; the id-keyed state must
    // land exactly on the table (asserted both directions INCLUDING the
    // ids). stream_catalog_cdf does the multiset fold; this is the
    // keyed-by-lineage twin — the consumer shape row ids exist for.
    "stream_row_cdc" -> { (s, dir) =>
      val wh = Etl.scratch(s, "wh")
      s.conf.set("spark.sql.catalog.graft_wh", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_wh.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.mrg")
      s.sql("DROP TABLE IF EXISTS graft_wh.mrg.rcdc")
      s.sql("""CREATE TABLE graft_wh.mrg.rcdc (ckey BIGINT, cents BIGINT)
              |TBLPROPERTIES ('history'='true','rowid'='true')""".stripMargin)
      Tables.orders(s, dir).createOrReplaceTempView("graft_rcdc_orders")
      @volatile var state: DataFrame =
        s.sql("SELECT ckey, cents, _row_id FROM graft_wh.mrg.rcdc LIMIT 0")
      val q = withFewPartitions(s) {
        s.readStream.table("graft_wh.mrg.rcdc.changes")
          .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
            batch.persist()
            val versions = batch.select("_commit_version").distinct()
              .collect().map(_.getLong(0)).sorted
            versions.foreach { v =>
              val ofV = batch.where(col("_commit_version") === v)
              // the fold key IS the row id: ids with a delete image
              // leave, insert images land — updates replace by identity
              val deadIds = ofV.where(col("_change_type") === "delete")
                .select(col("_row_id").as("__dead"))
              val ins = ofV.where(col("_change_type") === "insert")
                .select(col("ckey"), col("cents"), col("_row_id"))
              state = state
                .join(deadIds, state("_row_id") === col("__dead"), "left_anti")
                .unionAll(ins).localCheckpoint(eager = true)
            }
            batch.unpersist()
            ()
          }.start()
      }
      try {
        s.sql("""INSERT INTO graft_wh.mrg.rcdc
                |SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                |FROM graft_rcdc_orders WHERE o_orderkey % 3 = 0""".stripMargin)
        q.processAllAvailable()
        s.sql("""UPDATE graft_wh.mrg.rcdc
                |SET cents = cents + CASE WHEN ckey % 2 = 0 THEN 5 ELSE 0 END
                |""".stripMargin)
        q.processAllAvailable()
        s.sql("DELETE FROM graft_wh.mrg.rcdc WHERE ckey % 7 = 0")
        q.processAllAvailable()
      } finally q.stop()
      val tbl = s.sql("SELECT ckey, cents, _row_id FROM graft_wh.mrg.rcdc")
      require(state.exceptAll(tbl).isEmpty && tbl.exceptAll(state).isEmpty,
        "stream_row_cdc: the id-keyed fold must land on the table state, " +
          "ids included")
      state.groupBy((col("ckey") % 5).as("grp"))
        .agg(count(lit(1)).as("n"),
          sum("cents").cast("long").as("sum_cents"))
        .orderBy("grp")
    },

    "stream_catalog_cdf" -> { (s, dir) =>
      val wh = Etl.scratch(s, "wh")
      s.conf.set("spark.sql.catalog.graft_wh", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_wh.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.mrg")
      s.sql("DROP TABLE IF EXISTS graft_wh.mrg.cdfs")
      s.sql("""CREATE TABLE graft_wh.mrg.cdfs (id BIGINT, status STRING, cents BIGINT)
              |TBLPROPERTIES ('history'='true')""".stripMargin)
      Tables.orders(s, dir).createOrReplaceTempView("graft_cdfs_orders")
      @volatile var state: DataFrame = s.table("graft_wh.mrg.cdfs").limit(0)
      val q = withFewPartitions(s) {
        s.readStream.table("graft_wh.mrg.cdfs.changes")
          .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
            batch.persist()
            val versions = batch.select("_commit_version").distinct()
              .collect().map(_.getLong(0)).sorted
            versions.foreach { v =>
              val ofV = batch.where(col("_commit_version") === v)
              val del = ofV.where(col("_change_type") === "delete")
                .drop("_change_type", "_commit_version")
              val ins = ofV.where(col("_change_type") === "insert")
                .drop("_change_type", "_commit_version")
              state = state.exceptAll(del).unionAll(ins).localCheckpoint(true)
            }
            batch.unpersist()
            ()
          }.start()
      }
      try {
        s.sql("""INSERT INTO graft_wh.mrg.cdfs
                |SELECT o_orderkey, o_orderstatus,
                |       CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                |FROM graft_cdfs_orders WHERE o_orderkey % 3 = 0""".stripMargin)
        q.processAllAvailable()
        s.sql("""MERGE INTO graft_wh.mrg.cdfs t
                |USING (SELECT o_orderkey AS id,
                |              CAST(FLOOR(o_totalprice * 100) AS BIGINT) + 7 AS cents
                |       FROM graft_cdfs_orders WHERE o_orderkey % 5 = 0) c
                |ON t.id = c.id
                |WHEN MATCHED THEN UPDATE SET status = 'S', cents = c.cents
                |WHEN NOT MATCHED THEN INSERT (id, status, cents)
                |  VALUES (c.id, 'N', c.cents)""".stripMargin)
        q.processAllAvailable()
        s.sql("DELETE FROM graft_wh.mrg.cdfs WHERE id % 7 = 0")
        q.processAllAvailable()
      } finally q.stop()
      val tbl = s.sql("SELECT id, status, cents FROM graft_wh.mrg.cdfs")
      require(state.exceptAll(tbl).isEmpty && tbl.exceptAll(state).isEmpty,
        "stream_catalog_cdf: streamed change images must fold to the table state")
      state.orderBy("id")
    },

    // streaming append into a BUCKETED catalog table: three micro-batches
    // land through the catalog writer (bucket routing + per-file key sort
    // per batch), and the final read joins a co-bucketed dim — the
    // storage-partitioned join works on a table a stream just built
    // (plan shape asserted in GraftBucketSpec; values here)
    // streaming ingest into a HIDDEN-day-partitioned catalog table: three
    // micro-batches append through the catalog sink, each routed into
    // ts_day=N/ dirs by the days(ts) transform (one file per day PER
    // BATCH), then compactDayTable folds every day back to one file and
    // the read-back proves pruning survived the whole loop — a raw-ts
    // range filter plans strictly fewer day dirs than exist. This is the
    // production ingest shape at 100 TB: stream lands small per-day
    // files all day, maintenance folds them, time-range readers never
    // scan outside their days. Values are layout-invariant — DuckDB
    // replays the plain filter over raw events.
    // NATIVE streaming sink: `writeStream.toTable` straight into a graft
    // history table — no foreachBatch glue. Three micro-batches land as
    // three append commits whose EXACTLY-ONCE transaction markers ride
    // inside the manifest's atomic create (asserted in-query: the newest
    // manifest carries the query's txn marker, and each epoch's commit is
    // kind=append). The folded table must hash-match the batch oracle.
    "stream_catalog_sink" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val wh = Etl.scratch(s, "wh")
      s.conf.set("spark.sql.catalog.graft_wh", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_wh.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.sink")
      s.sql("DROP TABLE IF EXISTS graft_wh.sink.ord")
      s.sql("""CREATE TABLE graft_wh.sink.ord (id BIGINT, status STRING, cents BIGINT)
              |TBLPROPERTIES('history'='true',
              |  'graft.check.cents_pos'='cents > 0')""".stripMargin)
      val feed = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (floor(col("o_totalprice") * 100) + 1).cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1)
      val in = MemoryStream[(Long, String, Long)]
      withFewPartitions(s) {
        val q = in.toDF().toDF("id", "status", "cents")
          .writeStream
          .option("checkpointLocation",
            Etl.scratch(s, s"sink_cp_${java.util.UUID.randomUUID()}"))
          .toTable("graft_wh.sink.ord")
        foldBatches(in, feed.grouped(feed.length / 3 + 1).map(_.toSeq), q)
      }
      val tdir = new org.apache.hadoop.fs.Path(s"$wh/sink/ord")
      val fs = tdir.getFileSystem(s.sessionState.newHadoopConf())
      val vs = graft.sources.GraftTable.manifestVersions(fs, tdir)
      val appends = vs.count(v => graft.sources.GraftTable
        .commitKind(fs, tdir, v).contains(graft.sources.GraftTable.KindAppend))
      require(appends >= 3,
        s"stream_catalog_sink: 3 micro-batches must land as >=3 append " +
          s"commits (got $appends of versions $vs)")
      require(graft.sources.GraftTable.manifestMeta(fs, tdir, vs.last)
        .keys.exists(_.startsWith("txn:")),
        "stream_catalog_sink: the newest manifest must carry the stream's " +
          "exactly-once txn marker")
      s.sql("""SELECT id, status, cents FROM graft_wh.sink.ord
              |ORDER BY id""".stripMargin)
    },

    // STREAMING INGEST WITH A FOLLOWING DR MIRROR (round 10 — the
    // replication twin of stream_catalog_sink): each micro-batch lands as
    // one exactly-once append commit, and after every epoch
    // `graft_replicate` ships exactly that commit to the mirror (epoch 1
    // also carries the CREATE — asserted: versions_synced is 2,1,1), the
    // REGISTERED mirror serving each epoch's cumulative rows with no
    // re-registration. After the last epoch the mirror must equal the
    // source row-for-row (exceptAll both ways) and one more sync must
    // copy ZERO bytes — the steady-state cost of following a 100 TB
    // streaming ingest is O(epoch's files), and the mirror is a valid
    // readable table BETWEEN every pair of copies (the crash-prefix
    // contract). Output is the per-epoch ledger; the oracle derives it
    // from the orders count and the N/3+1 chunking by construction.
    "stream_replicate" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      graft.GraftExtensions.register(s)
      val wh = Etl.scratch(s, "wh")
      val mirror = Etl.scratch(s, "sr_mirror") + "/ord"
      s.conf.set("spark.sql.catalog.graft_sr", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_sr.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_sr.db")
      s.sql("DROP TABLE IF EXISTS graft_sr.db.ord")
      s.sql("DROP TABLE IF EXISTS graft_sr.db.mirror")
      val mfs = new org.apache.hadoop.fs.Path(mirror)
        .getFileSystem(s.sessionState.newHadoopConf())
      mfs.delete(new org.apache.hadoop.fs.Path(mirror), true) // bench re-runs
      s.sql("""CREATE TABLE graft_sr.db.ord (id BIGINT, status STRING,
              |cents BIGINT) TBLPROPERTIES('history'='true')""".stripMargin)
      val feed = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1)
      val in = MemoryStream[(Long, String, Long)]
      val ledger = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      withFewPartitions(s) {
        val q = in.toDF().toDF("id", "status", "cents")
          .writeStream
          .option("checkpointLocation",
            Etl.scratch(s, s"sr_cp_${java.util.UUID.randomUUID()}"))
          .toTable("graft_sr.db.ord")
        try {
          var epoch = 0L
          feed.grouped(feed.length / 3 + 1).foreach { chunk =>
            in.addData(chunk.toSeq); q.processAllAvailable()
            epoch += 1
            val r = graft.sources.GraftReplicate
              .replicate(s, s"$wh/db/ord", mirror)
            if (epoch == 1L)
              s.sql("SELECT * FROM graft_register(" +
                s"'graft_sr', 'db.mirror', '$mirror')").collect()
            ledger += ((epoch, r.versionsSynced,
              s.table("graft_sr.db.mirror").count()))
          }
        } finally q.stop()
      }
      require(ledger.map(_._2) == Seq(2L, 1L, 1L),
        s"stream_replicate: each epoch must sync exactly its own commit " +
          s"(epoch 1 plus the CREATE) — got ${ledger.map(_._2)}")
      val src = s.table("graft_sr.db.ord")
      val mir = s.table("graft_sr.db.mirror")
      require(src.exceptAll(mir).isEmpty && mir.exceptAll(src).isEmpty,
        "stream_replicate: the mirror must equal the source row-for-row")
      val r4 = graft.sources.GraftReplicate.replicate(s, s"$wh/db/ord", mirror)
      require(r4.filesCopied == 0 && r4.bytesCopied == 0,
        s"stream_replicate: following a quiet stream must be free ($r4)")
      ledger.toSeq.toDF("epoch", "versions_synced", "rows_mirrored")
        .orderBy("epoch")
    },

    // STREAMING ANN-INDEX MAINTENANCE: embeddings arrive as micro-batches
    // and land in the IVF-list-PARTITIONED catalog table etl_embed_ivf
    // serves from — per batch, the SAME IvfIndex.assign computes the list
    // and the append routes rows into list_id= partition dirs
    // (foreachBatch: assign collects the centroid set, a batch action the
    // direct streaming sink cannot run). After three batches the on-disk
    // layout is asserted partition-routed, and the SAME probe
    // (IvfIndex.probes: top-2 lists per query, partition-pruned scan,
    // exact in-list rank) must produce the batch pipeline's answer — same
    // oracle SQL.
    "stream_embed_ivf" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val wh = Etl.scratch(s, "wh")
      s.conf.set("spark.sql.catalog.graft_sei", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_sei.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_sei.db")
      s.sql("DROP TABLE IF EXISTS graft_sei.db.emb")
      s.sql("""CREATE TABLE graft_sei.db.emb (vec_id BIGINT, label BIGINT,
              |list_id BIGINT, embedding ARRAY<FLOAT>)
              |PARTITIONED BY (list_id)
              |TBLPROPERTIES('history'='true')""".stripMargin)
      val V = graft.functions.Vectors
      val emb = Tables.embeddings(s, dir)
      // the centroid set is FIXED index metadata (stride subset) — at
      // scale it broadcasts to every epoch like any static dim
      val cents = graft.operators.IvfIndex
        .centroids(emb, "vec_id", "embedding", 32)
        .localCheckpoint(eager = true)
      // harness-only driver traffic is BOUNDED: the MemoryStream feed
      // pulls one epoch chunk at a time through a partition-streamed
      // iterator (never a whole-table collect) — the stream_ann_upkeep
      // shape
      val nEmb = emb.count().toInt
      val in = MemoryStream[(Long, Long, Seq[Float])]
      withFewPartitions(s) {
        val q = in.toDF().toDF("vec_id", "label", "embedding")
          .writeStream
          .option("checkpointLocation",
            Etl.scratch(s, s"sei_cp_${java.util.UUID.randomUUID()}"))
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val listed = graft.operators.IvfIndex
              .assign(batch, cents, "vec_id", "embedding")
              .select(col("id").cast("long").as("vec_id"),
                col("c_id").cast("long").as("list_id"))
            batch.join(listed, "vec_id")
              .select(col("vec_id"), col("label"), col("list_id"),
                col("embedding").cast("array<float>"))
              .writeTo("graft_sei.db.emb").append()
          }
          .start()
        import scala.jdk.CollectionConverters._
        val rows = emb
          .select(col("vec_id").cast("long"), col("label").cast("long"),
            col("embedding"))
          .orderBy("vec_id").toLocalIterator().asScala
          .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2)))
        foldBatches(in, rows.grouped(nEmb / 3 + 1).map(_.toSeq), q)
      }
      // the stream landed partition-ROUTED: every data file sits in a
      // list_id= dir (the layout partition pruning needs)
      val tdir = new org.apache.hadoop.fs.Path(s"$wh/db/emb")
      val fs = tdir.getFileSystem(s.sessionState.newHadoopConf())
      val files = graft.sources.GraftTable.dataFiles(fs, tdir)
      require(files.nonEmpty && files.forall(_.contains("list_id=")),
        "stream_embed_ivf: streamed files must land in list_id= dirs")
      // probe exactly like etl_embed_ivf — pruned scan over the streamed
      // table must equal the batch pipeline's answer
      val probes = graft.operators.IvfIndex
        .probes(emb.where(col("vec_id") < 10), cents, "vec_id", "embedding", 2)
        .select(col("q_id").cast("long").as("q_id"), col("q_v"), col("q_nrm"),
          col("c_id").cast("long").as("list_id"))
        .localCheckpoint(eager = true)
      val probedLists = probes.select("list_id").distinct()
        .collect().map(_.getLong(0))
      val scored = s.table("graft_sei.db.emb")
        .where(col("list_id").isin(probedLists.map(Long.box): _*))
        .select(col("vec_id").as("n_id"),
          V.toDoubleArray(col("embedding")).as("n_v"), col("list_id"))
        .withColumn("n_nrm", V.norm(col("n_v")))
        .join(broadcast(probes), Seq("list_id"))
        .where(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          (V.dot(col("q_v"), col("n_v")) /
            (col("q_nrm") * col("n_nrm"))).as("cosine"))
      scored.withColumn("rank", row_number().over(
          Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))))
        .where(col("rank") <= 5)
        .orderBy("q_id", "rank")
    },

    // STREAMING GRAPH-ANN UPKEEP (round 10 — the persisted-index twin of
    // stream_embed_ivf): embeddings arrive as THREE micro-batches into a
    // catalog corpus table; epoch 1 BUILDS the NN-descent graph table
    // (graft_ann_build), each later epoch incrementally places only its
    // new vectors by beam search over the EXISTING graph and APPENDS
    // forward+reverse edges (graft_ann_refresh — the HNSW insert shape;
    // per-epoch cost O(new · beam · degree), never a rebuild). The hard
    // invariant is asserted in-query, exactly: the streamed graph must be
    // bit-identical (double cosines included) to the batch-SEQUENTIAL
    // twin — buildEdges over batch 1, then refreshEdges over each prefix
    // with the growing graph — because both paths run the same
    // deterministic plans over the same float inputs; and every corpus
    // node must hold forward edges. The driver-gate output is the
    // per-epoch ingest ledger (new_nodes, indexed_total), which the
    // oracle derives from the corpus count alone (chunking is
    // N/3+1-sized by construction).
    "stream_ann_upkeep" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      graft.GraftExtensions.register(s)
      val wh = Etl.scratch(s, "wh")
      s.conf.set("spark.sql.catalog.graft_sau", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_sau.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_sau.db")
      s.sql("DROP TABLE IF EXISTS graft_sau.db.emb")
      s.sql("DROP TABLE IF EXISTS graft_sau.db.knn")
      s.sql("""CREATE TABLE graft_sau.db.emb (vec_id BIGINT, label BIGINT,
              |embedding ARRAY<FLOAT>)
              |TBLPROPERTIES('history'='true')""".stripMargin)
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").cast("long"), col("label").cast("long"),
          col("embedding"))
      // harness-only driver traffic is BOUNDED: the MemoryStream feed
      // pulls one epoch chunk at a time through a partition-streamed
      // iterator (never a whole-table collect), and the epoch boundaries
      // are two scalars computed distributedly
      val n = emb.count().toInt
      val per = n / 3 + 1
      val bounds = emb.select(col("vec_id"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("vec_id")))
        .where(col("rn") === per || col("rn") === math.min(2 * per, n))
        .orderBy("rn").collect().map(_.getLong(0)).toSeq
      val receipts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val in = MemoryStream[(Long, Long, Seq[Float])]
      withFewPartitions(s) {
        val q = in.toDF().toDF("vec_id", "label", "embedding")
          .writeStream
          .option("checkpointLocation",
            Etl.scratch(s, s"sau_cp_${java.util.UUID.randomUUID()}"))
          .foreachBatch { (batch: DataFrame, epoch: Long) =>
            batch.select(col("vec_id"), col("label"),
                col("embedding").cast("array<float>"))
              .writeTo("graft_sau.db.emb").append()
            val r =
              if (!s.catalog.tableExists("graft_sau.db.knn"))
                s.sql("""SELECT * FROM graft_ann_build('graft_sau',
                    |'db.emb', 'db.knn', 'vec_id', 'embedding', 'label',
                    |3, 1)""".stripMargin).collect()(0)
              else
                s.sql("""SELECT * FROM graft_ann_refresh('graft_sau',
                    |'db.emb', 'db.knn', 'vec_id', 'embedding',
                    |3)""".stripMargin).collect()(0)
            receipts += ((epoch + 1, r.getLong(0),
              s.table("graft_sau.db.emb").count()))
            ()
          }
          .start()
        import scala.jdk.CollectionConverters._
        val rows = emb.orderBy("vec_id").toLocalIterator().asScala
          .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2)))
        foldBatches(in, rows.grouped(per).map(_.toSeq), q)
      }
      // batch-SEQUENTIAL twin: same build + placement calls, same order
      val c1 = emb.where(col("vec_id") <= bounds(0))
      val c12 = emb.where(col("vec_id") <= bounds(1))
      def typed(g: DataFrame) =
        g.select(col("a_id").cast("long"), col("b_id").cast("long"),
          col("cosine").cast("double"), col("rank").cast("int"))
      val g1 = typed(graft.operators.AnnIndex.buildEdges(
        c1, "vec_id", "embedding", "label", k = 3, iters = 1))
        .localCheckpoint(eager = true)
      val g2 = g1.unionAll(typed(graft.operators.AnnIndex.refreshEdges(
          c12, g1, "vec_id", "embedding", 3)))
        .localCheckpoint(eager = true)
      val g3 = g2.unionAll(typed(graft.operators.AnnIndex.refreshEdges(
          emb, g2, "vec_id", "embedding", 3)))
        .localCheckpoint(eager = true)
      val streamed = s.table("graft_sau.db.knn")
      require(streamed.exceptAll(g3).count() == 0 &&
          g3.exceptAll(streamed).count() == 0,
        "stream_ann_upkeep: the streamed graph must equal the " +
          "batch-sequential build+refresh twin exactly")
      require(streamed.select(countDistinct(col("a_id")))
          .collect()(0).getLong(0) == n,
        "stream_ann_upkeep: every corpus node must hold forward edges")
      receipts.toSeq.toDF("epoch", "new_nodes", "indexed_total")
        .orderBy("epoch")
    },

    "stream_day_ingest" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val wh = Etl.scratch(s, "wh")
      s.conf.set("spark.sql.catalog.graft_wh", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_wh.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.day")
      s.sql("DROP TABLE IF EXISTS graft_wh.day.sev")
      s.sql("""CREATE TABLE graft_wh.day.sev
              |(event_id BIGINT, ts TIMESTAMP, value DOUBLE)
              |PARTITIONED BY (days(ts))""".stripMargin)
      val feed = Tables.events(s, dir)
        .where(col("event_id") < 10000)
        .select(col("event_id"),
          unix_micros(col("ts")), col("value"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      val in = MemoryStream[(Long, Long, Double)]
      withFewPartitions(s) {
        val q = StreamOps.catalogAppendStream(
          in.toDF().toDF("event_id", "us", "value")
            .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
              col("value")),
          "graft_wh.day.sev")
        foldBatches(in, feed.grouped(feed.length / 3 + 1).map(_.toSeq), q)
      }
      val (nBefore, nAfter) =
        graft.sources.GraftMaintenance.compactDayTable(s,
          graft.sources.GraftTable.load(s, "graft_wh", "day.sev"))
      require(nAfter < nBefore,
        s"stream_day_ingest: 3 batches must leave multi-file days to fold " +
          s"($nBefore -> $nAfter)")
      val firstDay = Tables.events(s, dir)
        .where(col("event_id") < 10000)
        .agg(min(to_date(col("ts"))).as("d")).collect()(0).getDate(0)
      val window = s.table("graft_wh.day.sev")
        .where(col("ts") >= date_add(lit(firstDay), 3).cast("timestamp") &&
          col("ts") < date_add(lit(firstDay), 6).cast("timestamp"))
      val planned = window.rdd.getNumPartitions
      val totalDirs = new java.io.File(s"$wh/day/sev")
        .listFiles().count(f => f.isDirectory && f.getName.startsWith("ts_day="))
      require(planned <= 3 && planned < totalDirs,
        s"stream_day_ingest: window planned $planned of $totalDirs day dirs " +
          "— pruning did not survive the ingest+compact loop")
      window.groupBy(to_date(col("ts")).cast("string").as("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
        .orderBy("day")
    },

    "stream_bucket_sink" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val wh = Etl.scratch(s, "wh")
      s.conf.set("spark.sql.catalog.graft_wh", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_wh.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.spj")
      s.sql("DROP TABLE IF EXISTS graft_wh.spj.ssink")
      s.sql("DROP TABLE IF EXISTS graft_wh.spj.sdim")
      s.sql("""CREATE TABLE graft_wh.spj.ssink (ck BIGINT, cents BIGINT)
              |PARTITIONED BY (bucket(8, ck))""".stripMargin)
      s.sql("""CREATE TABLE graft_wh.spj.sdim (ck BIGINT, seg STRING)
              |PARTITIONED BY (bucket(8, ck))""".stripMargin)
      Tables.customer(s, dir).createOrReplaceTempView("graft_sbs_customer")
      s.sql("""INSERT INTO graft_wh.spj.sdim
              |SELECT c_custkey, c_mktsegment FROM graft_sbs_customer""".stripMargin)
      val feed = Tables.orders(s, dir)
        .where(col("o_orderkey") < 20000)
        .select(col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long"), col("o_orderkey"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._3)
      val in = MemoryStream[(Long, Long, Long)]
      withFewPartitions(s) {
        val q = StreamOps.catalogAppendStream(
          in.toDF().toDF("ck", "cents", "seq").drop("seq"),
          "graft_wh.spj.ssink")
        foldBatches(in, feed.grouped(feed.length / 3 + 1).map(_.toSeq), q)
      }
      s.sql("""SELECT d.seg, COUNT(*) AS n_orders, SUM(o.cents) AS sum_cents
              |FROM graft_wh.spj.ssink o JOIN graft_wh.spj.sdim d ON o.ck = d.ck
              |GROUP BY d.seg ORDER BY d.seg""".stripMargin)
    },

    // streaming type-2 SCD upkeep: etl_scd2's changelog fed as THREE
    // seq-ordered micro-batches through scd2Stream; versions must chain
    // ACROSS batches (an open version closes when its key's next change
    // arrives a batch later), and the folded history equals the one-shot
    // batch scd2History (same oracle shape, capped feed)
    "stream_scd2" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val changes = Tables.orders(s, dir)
        .where(col("o_orderkey") < 20000)
        .select(
          col("o_custkey"), concat(lit("upd_"), col("o_orderkey")),
          col("o_totalprice"), col("o_orderkey"),
          when(col("o_orderkey") % 20 === 0, Cdc.OpDelete).otherwise(Cdc.OpUpsert))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getString(4)))
        .sortBy(_._4)
      val in = MemoryStream[(Long, String, Double, Long, String)]
      @volatile var hist: DataFrame = null
      withFewPartitions(s) {
        val q = StreamOps.scd2Stream(
          in.toDF().toDF("c_custkey", "c_name", "c_acctbal", "seq", "op"),
          "c_custkey", "seq", "op")(df => hist = df)
        foldBatches(in, changes.grouped(changes.length / 3 + 1).map(_.toSeq), q)
      }
      hist.orderBy("c_custkey", "valid_from")
    },

    // streaming incremental ingest dedup under the driver gate: three
    // batches of NEW docs fold through incrementalDedupStream against the
    // stored corpus index — each batch dedups in-batch (keepFirst), then
    // exactly + near (simhash Hamming ≤ 3) against the GROWING index, and
    // its survivors' (fp, simhash) rows append so LATER batches drop
    // near-dups of EARLIER survivors. The oracle unrolls the three-step
    // recursion in SQL (batch slices are static modulo predicates).
    // Corpus text is only ever read to build the index DataFrame — the
    // stored-index contract dd_incremental proves in batch form
    "stream_ingest_dedup" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val index = graft.operators.Dedup
        .dedupIndex(docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text")
      // capped feed: constant driver cost in sf (cap above the gate sf's
      // whole id range); batch k = (doc_id/5) mod 3 == k, a static
      // predicate the oracle replays
      val feed = docs.where(col("doc_id") % 5 === 0 && col("doc_id") < 2500)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      val batches = (0 until 3).map(k => feed.filter(t => (t._1 / 5) % 3 == k).toSeq)
      val in = MemoryStream[(Long, String, String, Long)]
      val surv = scala.collection.mutable.ListBuffer.empty[DataFrame]
      withFewPartitions(s) {
        val q = StreamOps.incrementalDedupStream(
          in.toDF().toDF("doc_id", "text", "source", "n_chars"),
          index, "doc_id", "text", maxDist = 3)(b => surv += b)
        foldBatches(in, batches.iterator, q)
      }
      surv.reduce(_ unionByName _)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },

    // streaming materialized-view upkeep: etl_incr_agg's rollup maintained
    // across THREE micro-batches by maintainAggregateStream (merge-only,
    // history never re-aggregated); final state equals the batch aggregate
    "stream_mv_upkeep" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      def rollup(df: DataFrame): DataFrame = df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(8,2)")).as("total"),
          max(col("o_totalprice").cast("decimal(8,2)")).as("max_price"))
      val o = Tables.orders(s, dir).where(col("o_orderkey") < 20000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val rows = o.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      val in = MemoryStream[(Long, Long, Double)]
      val initial = rollup(o.where(lit(false))) // empty state, exact schema
      @volatile var state: DataFrame = initial
      withFewPartitions(s) {
        val q = StreamOps.maintainAggregateStream(
          in.toDF().toDF("o_orderkey", "o_custkey", "o_totalprice"),
          initial, Seq("o_custkey"), rollup,
          Seq("n_orders" -> IncrementalAgg.MergeSum,
            "total" -> IncrementalAgg.MergeSum,
            "max_price" -> IncrementalAgg.MergeMax))(df => state = df)
        foldBatches(in, rows.grouped(rows.length / 3 + 1).map(_.toSeq), q)
      }
      state
        .select(col("o_custkey"), col("n_orders"),
          col("total").cast("double").as("total"),
          col("max_price").cast("double").as("max_price"))
        .orderBy("o_custkey")
    },

    // streaming LOCF: etl_locf's forward fill run through the watermarked
    // flatMapGroupsWithState operator; events arrive in event-id order
    // across three micro-batches, sentinel rows advance the watermark so
    // every pending row flushes. Timestamps are pre-truncated to whole
    // seconds so the operator's (sec, event_id) order equals the oracle's
    "stream_locf" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import StreamOps.FillIn
      // deterministic 1-in-5 subsample PLUS a fixed id cap: the
      // MemoryStream harness is driver-resident by design, so the feed
      // must stay CONSTANT in sf, not linear (the cap sits above the
      // gate sf's whole id range, so sf0.01 results are unchanged); the
      // oracle applies the same predicate
      val ev = Tables.events(s, dir).where(col("event_id") % 5 === 0 && col("event_id") < 25000).select(
          col("event_id"), floor(unix_timestamp(col("ts"))).cast("long").as("sec"),
          col("user_id"),
          when(col("event_id") % 4 === 0, col("value")).as("reading"))
        .collect()
        .map(r => FillIn(r.getLong(0), new java.sql.Timestamp(r.getLong(1) * 1000L),
          r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .sortBy(f => (f.ts.getTime, f.eventId))
      val maxSec = ev.map(_.ts.getTime).max / 1000L
      val sentinel = (i: Long) =>
        FillIn(-i, new java.sql.Timestamp((maxSec + 3600L * i) * 1000L), -1L, None)
      val in = MemoryStream[FillIn]
      val name = s"stream_locf_sink_${sinkId.incrementAndGet()}"
      withFewPartitions(s) {
        val q = StreamOps.forwardFillStream(in.toDS())
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        // three data batches, then two watermark-advancing sentinel batches
        // (emission happens the batch AFTER the watermark moves)
        foldBatches(in,
          ev.grouped(ev.length / 3 + 1).map(_.toSeq) ++
            Iterator(Seq(sentinel(1)), Seq(sentinel(2))), q)
      }
      s.table(name).where(col("key") =!= -1L)
        .select(col("key").as("user_id"), col("eventId").as("event_id"),
          col("sec"), col("reading"), col("filled").as("reading_filled"))
        .orderBy("user_id", "event_id")
    },

    // update-mode running totals on Spark 4's transformWithState (typed
    // ValueState on the RocksDB store — the disk-spillable successor to
    // flatMapGroupsWithState) under the driver gate: events fold through
    // FOUR micro-batches; the final update per key (max n_events — the
    // count strictly increases per touch) must equal the batch aggregate.
    // Values feed as integer cents (floor(value·100) is IEEE-exact), so
    // the stream's arrival-order accumulation and the oracle's unordered
    // SUM agree bit-for-bit — raw double addition would not associate
    "stream_running_total" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import StreamOps.KV
      val rows = Tables.events(s, dir).where(col("event_id") % 5 === 0 && col("event_id") < 25000)
        .select(col("event_id"), col("user_id"),
          floor(col("value") * 100).as("cents"))
        .collect()
        .map(r => (r.getLong(0), KV(r.getLong(1), r.getLong(2).toDouble)))
        .sortBy(_._1).map(_._2)
      val in = MemoryStream[KV]
      val name = s"stream_rt_sink_${sinkId.incrementAndGet()}"
      val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      try {
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        withFewPartitions(s) {
          val q = StreamOps.runningTotalsTws(in.toDS())
            .writeStream.format("memory").queryName(name)
            .outputMode("update").start()
          foldBatches(in, rows.grouped(rows.length / 4 + 1).map(_.toSeq), q)
        }
      } finally prev match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      s.table(name)
        .groupBy(col("k").as("user_id"))
        .agg(max(col("nEvents")).as("n_events"),
          max_by(col("total"), col("nEvents")).as("total_cents"))
        .orderBy("user_id")
    },

    // streaming exact dedup under the driver gate: every event is fed
    // TWICE, the duplicate always one batch later than the original, so
    // dropDuplicatesWithinWatermark's cross-batch state is what drops it
    // (in-batch dedup alone would fail). The long watermark pins state
    // for the bounded feed — eviction-under-watermark is proven in
    // StreamOpsSpec; here the gate checks exact first-occurrence output
    "stream_dedup" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = Tables.events(s, dir)
        .where(col("event_id") % 5 === 0 && col("event_id") < 25000)
        .select(col("event_id"), floor(unix_timestamp(col("ts"))).cast("long").as("sec"),
          col("user_id"))
        .collect()
        .map(r => (r.getLong(0), new java.sql.Timestamp(r.getLong(1) * 1000L), r.getLong(2)))
        .sortBy(_._1)
      val chunks = rows.grouped(rows.length / 3 + 1).toSeq
      // batch k carries chunk k plus a full repeat of chunk k-1
      val feed = chunks.zipWithIndex.map { case (c, i) =>
        if (i == 0) c else c ++ chunks(i - 1)
      } :+ chunks.last
      val in = MemoryStream[(Long, java.sql.Timestamp, Long)]
      val name = s"stream_dedup_sink_${sinkId.incrementAndGet()}"
      withFewPartitions(s) {
        val q = StreamOps.dedupStream(
            in.toDF().toDF("event_id", "ts", "user_id"), watermark = "3650 days")
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        foldBatches(in, feed.iterator.map(_.toSeq), q)
      }
      s.table(name)
        .select(col("event_id"), col("user_id"))
        .orderBy("event_id")
    },

    // streaming tumbling-window aggregation (q13's twin) under the driver
    // gate: watermarked 1 h windows fold across three micro-batches;
    // sentinel batches advance the watermark so every real window closes
    // and append mode flushes it. Values feed as integral cents (exact in
    // doubles), so cross-batch accumulation order cannot drift the sum
    "stream_window_agg" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = Tables.events(s, dir)
        .where(col("event_id") % 5 === 0 && col("event_id") < 25000)
        .select(col("event_id"), floor(unix_timestamp(col("ts"))).cast("long").as("sec"),
          col("event_type"), floor(col("value") * 100).cast("double").as("cents"))
        .collect()
        .map(r => (r.getLong(0), new java.sql.Timestamp(r.getLong(1) * 1000L),
          r.getString(2), r.getDouble(3)))
        .sortBy(_._1)
      val maxSec = rows.map(_._2.getTime).max / 1000L
      val sentinel = (i: Long) =>
        (-i, new java.sql.Timestamp((maxSec + 36000L * i) * 1000L), "__s", 0.0)
      val in = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
      val name = s"stream_wagg_sink_${sinkId.incrementAndGet()}"
      withFewPartitions(s) {
        val q = StreamOps.hourlyAgg(
            in.toDF().toDF("event_id", "ts", "event_type", "value")
              .select(col("ts"), col("event_type"), col("value")))
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        foldBatches(in,
          rows.grouped(rows.length / 3 + 1).map(_.toSeq) ++
            Iterator(Seq(sentinel(1)), Seq(sentinel(2))), q)
      }
      s.table(name).where(col("event_type") =!= "__s")
        .select(unix_timestamp(col("window.start")).as("hour_sec"),
          col("event_type"), col("n_events"), col("sum_value").as("sum_cents"))
        .orderBy("hour_sec", "event_type")
    },

    // continuous distribution-drift monitor (dq_drift's streaming twin):
    // the landing epoch's price histogram is maintained as streaming
    // state by maintainAggregateStream (MergeSum per bucket — counts
    // merge, history never re-aggregated) across three micro-batches,
    // then compared against the reference epoch with dq_drift's exact
    // cross-multiplied integer L1 — no float accumulation anywhere, so
    // arrival order cannot move the drift score
    "stream_drift" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      def bucketOf(c: Column): Column =
        least(floor(c / 20000).cast("long"), lit(9L))
      val o = Tables.orders(s, dir)
      val refHist = o.where(col("o_orderkey") % 2 === 0)
        .groupBy(bucketOf(col("o_totalprice")).as("bucket"))
        .agg(count(lit(1)).as("cnt_a"))
      val shifted = when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 10000)
        .otherwise(col("o_totalprice"))
      val feed = o.where(col("o_orderkey") % 2 === 1 && col("o_orderkey") < 20000)
        .select(col("o_orderkey"), shifted.as("price"))
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy(_._1)
      def rollup(df: DataFrame): DataFrame =
        df.groupBy(bucketOf(col("price")).as("bucket"))
          .agg(count(lit(1)).as("cnt_b"))
      val in = MemoryStream[(Long, Double)]
      val initial = rollup(feed.take(0).toSeq.toDF("o_orderkey", "price"))
      @volatile var state: DataFrame = initial
      withFewPartitions(s) {
        val q = StreamOps.maintainAggregateStream(
          in.toDF().toDF("o_orderkey", "price"),
          initial, Seq("bucket"), rollup,
          Seq("cnt_b" -> IncrementalAgg.MergeSum))(df => state = df)
        foldBatches(in, feed.grouped(feed.length / 3 + 1).map(_.toSeq), q)
      }
      val j = refHist.join(state, Seq("bucket"), "full_outer")
        .select(col("bucket"), coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
          coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      val tot = j.agg(sum(col("cnt_a")).as("tot_a"), sum(col("cnt_b")).as("tot_b"))
      j.crossJoin(broadcast(tot))
        .select(col("bucket"), col("cnt_a"), col("cnt_b"),
          abs(col("cnt_a") * col("tot_b") - col("cnt_b") * col("tot_a"))
            .as("l1_num"))
        .orderBy("bucket")
    },

    // streaming OHLC downsampling (q56's twin) under the driver gate:
    // watermarked hourly windows with min_by/max_by open/close state fold
    // across three micro-batches + sentinel flushes; the packed (sec,
    // event_id) order key makes first/last exact under any arrival order
    "stream_ohlc" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = Tables.events(s, dir)
        .where(col("event_id") % 5 === 0 && col("event_id") < 25000)
        .select(col("event_id"), floor(unix_timestamp(col("ts"))).cast("long").as("sec"),
          col("event_type"), col("value"))
        .collect()
        .map(r => (r.getLong(0), new java.sql.Timestamp(r.getLong(1) * 1000L),
          r.getString(2), r.getDouble(3)))
        .sortBy(_._1)
      val maxSec = rows.map(_._2.getTime).max / 1000L
      val sentinel = (i: Long) =>
        (-i, new java.sql.Timestamp((maxSec + 36000L * i) * 1000L), "__s", 0.0)
      val in = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
      val name = s"stream_ohlc_sink_${sinkId.incrementAndGet()}"
      withFewPartitions(s) {
        val q = StreamOps.hourlyOhlc(
            in.toDF().toDF("event_id", "ts", "event_type", "value"))
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        foldBatches(in,
          rows.grouped(rows.length / 3 + 1).map(_.toSeq) ++
            Iterator(Seq(sentinel(1)), Seq(sentinel(2))), q)
      }
      s.table(name).where(col("event_type") =!= "__s")
        .select(unix_timestamp(col("window.start")).as("hour_sec"),
          col("event_type"), col("open"), col("high"), col("low"),
          col("close"), col("n_events"))
        .orderBy("hour_sec", "event_type")
    },

    // stream-static enrichment join under the driver gate: each
    // micro-batch left-joins the landing orders stream against the static
    // customer dimension (re-planned and auto-broadcast per batch);
    // output over the bounded feed ≡ the batch left join. Stateless —
    // this gate proves the per-batch join path, not a state store
    "stream_enrich" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val rows = Tables.orders(s, dir).where(col("o_orderkey") < 20000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      val in = MemoryStream[(Long, Long, Double)]
      val name = s"stream_enrich_sink_${sinkId.incrementAndGet()}"
      withFewPartitions(s) {
        val q = StreamOps.enrichWithStatic(
            in.toDF().toDF("o_orderkey", "c_custkey", "o_totalprice"),
            dim, Seq("c_custkey"), "left")
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        foldBatches(in, rows.grouped(rows.length / 3 + 1).map(_.toSeq), q)
      }
      s.table(name)
        .select(col("o_orderkey"), col("c_custkey").as("o_custkey"),
          col("o_totalprice"), col("c_name"), col("c_nationkey"))
        .orderBy("o_orderkey")
    },

    // stream-stream interval join under the driver gate: the
    // impression⋈click shape over TWO MemoryStreams fed in lockstep
    // micro-batches — cross-batch buffering is exercised because a click
    // can arrive batches before or after its impression; the full inner
    // result must equal the batch interval join regardless of emission
    // timing. Long watermark pins state for the bounded feed (bounded-
    // state eviction is proven in StreamOpsSpec)
    "stream_interval_join" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      def feed(rem: Int) = Tables.events(s, dir)
        .where(col("event_id") % 10 === rem && col("event_id") < 25000)
        .select(col("event_id"), col("user_id"),
          floor(unix_timestamp(col("ts"))).cast("long").as("sec"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), new java.sql.Timestamp(r.getLong(2) * 1000L)))
        .sortBy(_._1)
      val imps = feed(0)
      val clicks = feed(5)
      val inL = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val inR = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val name = s"stream_ij_sink_${sinkId.incrementAndGet()}"
      withFewPartitions(s) {
        val q = StreamOps.joinWithinTime(
            inL.toDF().toDF("i_id", "i_user", "i_ts"),
            inR.toDF().toDF("c_id", "c_user", "c_ts"),
            "i_user", "c_user", "i_ts", "c_ts",
            within = "30 minutes", watermark = "3650 days")
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        type Row3 = (Long, Long, java.sql.Timestamp)
        val lc = imps.grouped(imps.length / 3 + 1).map(_.toSeq).toSeq
        val rc = clicks.grouped(clicks.length / 3 + 1).map(_.toSeq).toSeq
        try lc.zipAll(rc, Seq.empty[Row3], Seq.empty[Row3]).foreach { case (cl, cr) =>
          inL.addData(cl); inR.addData(cr); q.processAllAvailable()
        } finally q.stop()
      }
      s.table(name)
        .select(col("i_user").as("user_id"), col("i_id"), col("c_id"),
          (unix_timestamp(col("c_ts")) - unix_timestamp(col("i_ts"))).as("lag_sec"))
        .orderBy("user_id", "i_id", "c_id")
    },

    // update-mode running top-k per key under the driver gate (q24's
    // streaming twin): the bounded-heap TopKAgg as cross-batch streaming
    // state, folded over four micro-batches. The paired running count
    // strictly increases per touch, so max_by(topk, n) picks each key's
    // LAST update from the memory sink; integral cents keep values exact
    "stream_topk" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = Tables.events(s, dir)
        .where(col("event_id") % 5 === 0 && col("event_id") < 25000)
        .select(col("event_id"), col("user_id"), floor(col("value") * 100).cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).map(t => (t._2, t._3))
      val in = MemoryStream[(Long, Long)]
      val name = s"stream_topk_sink_${sinkId.incrementAndGet()}"
      withFewPartitions(s) {
        val q = in.toDF().toDF("user_id", "cents")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            graft.expressions.TopKAgg.topK(col("cents"), 3).as("tk"))
          .writeStream.format("memory").queryName(name).outputMode("update").start()
        foldBatches(in, rows.grouped(rows.length / 4 + 1).map(_.toSeq), q)
      }
      s.table(name)
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n_events"),
          max_by(col("tk"), col("n")).as("tk"))
        .select(col("user_id"), col("n_events"),
          concat_ws(",", transform(col("tk"), v => v.cast("string"))).as("top_cents"))
        .orderBy("user_id")
    },

    // continuous transition matrix (q62's streaming twin) under the driver
    // gate: the time-sorted feed splits into THREE contiguous micro-batch
    // slices, so many users' adjacent pairs STRADDLE batch boundaries —
    // exactly the pairs transitionsStream's per-user carry state exists to
    // form (a stateless per-batch lead() would drop them and the oracle
    // would catch the shortfall). Final counts ≡ the batch lead() pass
    "stream_transitions" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val feed = Tables.events(s, dir)
        .where(col("event_id") % 5 === 0 && col("event_id") < 25000)
        .select(col("user_id"), col("event_id"),
          floor(unix_timestamp(col("ts"))).cast("long").as("sec"),
          col("event_type"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(t => (t._3, t._2))
      val in = MemoryStream[(Long, Long, Long, String)]
      @volatile var counts: DataFrame = null
      withFewPartitions(s) {
        val q = StreamOps.transitionsStream(
          in.toDF().toDF("user_id", "event_id", "sec", "event_type"))(df => counts = df)
        foldBatches(in, feed.grouped(feed.length / 3 + 1).map(_.toSeq), q)
      }
      val tot = counts.groupBy(col("from_type")).agg(sum(col("n")).as("n_from"))
      counts.join(tot, Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / col("n_from").cast("double")).as("p"))
        .orderBy("from_type", "to_type")
    },

    // streaming funnel upkeep (q39's continuous twin) under the driver
    // gate: per-user stage-first-seen minima maintained across THREE
    // micro-batches by maintainAggregateStream with MergeMin measures —
    // least() skips NULLs, so a stage first seen in batch 3 lands exactly
    // like the batch conditional-min. A user's stages arriving in
    // DIFFERENT batches is the cross-batch path; the funnel counts are
    // computed from the final folded state only
    // continuous duplicate-payment monitor: dq_double_charge's state
    // maintained across FOUR micro-batches — a same-day pair whose two
    // orders arrive in DIFFERENT batches is only detectable through the
    // cross-batch fold (count MergeSum, key extremes MergeMin/Max, the
    // spread from maintained cent extremes); the >1 filter applies to the
    // FINAL state, never per batch. Every measure is a monoid, which is
    // what lets the audit run continuously without re-scanning history
    "stream_double_charge" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      def rollup(df: DataFrame): DataFrame = df
        .groupBy(col("o_custkey"), col("day_num"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_orderkey")).as("first_ok"),
          max(col("o_orderkey")).as("last_ok"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
      val base = Tables.orders(s, dir)
        .select(col("o_custkey"),
          floor(unix_timestamp(col("o_orderdate")) / 86400).cast("long")
            .as("day_num"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderkey"))
      val rows = base.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._4)
      val in = MemoryStream[(Long, Long, Long, Long)]
      val initial = rollup(base.where(lit(false)))
      @volatile var state: DataFrame = initial
      withFewPartitions(s) {
        val q = StreamOps.maintainAggregateStream(
          in.toDF().toDF("o_custkey", "day_num", "cents", "o_orderkey"),
          initial, Seq("o_custkey", "day_num"), rollup,
          Seq("n_orders" -> IncrementalAgg.MergeSum,
            "first_ok" -> IncrementalAgg.MergeMin,
            "last_ok" -> IncrementalAgg.MergeMax,
            "min_cents" -> IncrementalAgg.MergeMin,
            "max_cents" -> IncrementalAgg.MergeMax))(df => state = df)
        foldBatches(in, rows.grouped(rows.length / 4 + 1).map(_.toSeq), q)
      }
      state.where(col("n_orders") > 1)
        .select(col("o_custkey"), col("day_num"), col("n_orders"),
          col("first_ok"), col("last_ok"),
          (col("max_cents") - col("min_cents")).as("cents_spread"))
        .orderBy("o_custkey", "day_num")
    },

    // streaming golden-record upkeep: etl_survivorship's per-column
    // freshest-non-null merge maintained as cross-batch state. Feed A
    // (ERP) and feed B (CRM) arrive in SEPARATE micro-batches, so every
    // entity's survivor is decided across a state fold — the per-column
    // struct-max over the packed (updated_at, 9−priority) key is a
    // MONOID (greatest() of structs), which is exactly what makes MDM
    // maintainable incrementally: a new feed merges into stored state
    // without re-reading earlier feeds. Final state ≡ the one-shot batch
    // survivorship (same oracle)
    "stream_survivorship" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      def rollup(df: DataFrame): DataFrame = {
        val w = df.withColumn("ord", col("upd") * 10 + (lit(9L) - col("pri")))
        def surv(c: String) =
          max(when(col(c).isNotNull, struct(col("ord"), col(c)))).as(s"${c}_s")
        w.groupBy(col("k"))
          .agg(count(lit(1)).as("n_sources"),
            surv("name"), surv("acctbal"), surv("segment"))
      }
      val feeds = Etl.survivorshipFeeds(s, dir)
      val rows = feeds.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), Option(r.getString(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        Option(r.getString(5))))
      val batches = Seq(rows.filter(_._2 == 1L).toSeq.sortBy(_._1),
        rows.filter(_._2 == 2L).toSeq.sortBy(_._1))
      val in = MemoryStream[(Long, Long, Long, Option[String], Option[Double], Option[String])]
      val initial = rollup(feeds.where(lit(false)))
      @volatile var state: DataFrame = initial
      withFewPartitions(s) {
        val q = StreamOps.maintainAggregateStream(
          in.toDF().toDF("k", "pri", "upd", "name", "acctbal", "segment"),
          initial, Seq("k"), rollup,
          Seq("n_sources" -> IncrementalAgg.MergeSum,
            "name_s" -> IncrementalAgg.MergeMax,
            "acctbal_s" -> IncrementalAgg.MergeMax,
            "segment_s" -> IncrementalAgg.MergeMax))(df => state = df)
        foldBatches(in, batches.iterator, q)
      }
      state.select(col("k").as("c_custkey"), col("n_sources"),
          col("name_s").getField("name").as("name"),
          col("acctbal_s").getField("acctbal").as("acctbal"),
          col("segment_s").getField("segment").as("segment"))
        .orderBy("c_custkey")
    },

    // continuous growth curve: q57's cumulative-distinct-users twin. The
    // distinct is maintained as per-user MergeMin(first_day) state across
    // FOUR micro-batches (a user's earliest day can arrive in a LATER
    // batch — the fold must take the min, not first-write-wins, which is
    // exactly what a naive dropDuplicates-on-user stream gets wrong);
    // the day rollup + running total then run over the final state's
    // dim-sized per-day table. State is one row per user (the 100 TB
    // cardinality knob), never a running count(distinct) over the feed
    "stream_cume_users" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      def rollup(df: DataFrame): DataFrame = df.groupBy(col("user_id"))
        .agg(min(col("day_num")).as("first_day"))
      val base = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day_num"))
      val rows = base.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      val in = MemoryStream[(Long, Long, Long)]
      val initial = rollup(base.where(lit(false)))
      @volatile var state: DataFrame = initial
      withFewPartitions(s) {
        val q = StreamOps.maintainAggregateStream(
          in.toDF().toDF("event_id", "user_id", "day_num"),
          initial, Seq("user_id"), rollup,
          Seq("first_day" -> IncrementalAgg.MergeMin))(df => state = df)
        foldBatches(in, rows.grouped(rows.length / 4 + 1).map(_.toSeq), q)
      }
      val perDay = state.groupBy(col("first_day").as("day_num"))
        .agg(count(lit(1)).as("n_new_users"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("day_num")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      perDay.withColumn("cume_users", sum(col("n_new_users")).over(w))
        .orderBy("day_num")
    },

    "stream_funnel" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      def rollup(df: DataFrame): DataFrame = {
        def stageTs(t: String): Column = min(when(col("event_type") === t, col("sec")))
        df.groupBy(col("user_id"))
          .agg(stageTs("signup").as("t1"), stageTs("view").as("t2"),
            stageTs("click").as("t3"), stageTs("purchase").as("t4"))
      }
      val base = Tables.events(s, dir)
        .where(col("event_id") % 5 === 0 && col("event_id") < 25000)
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(unix_timestamp(col("ts"))).cast("long").as("sec"))
      val rows = base.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1)
      val in = MemoryStream[(Long, Long, String, Long)]
      val initial = rollup(base.where(lit(false)))
      @volatile var state: DataFrame = initial
      withFewPartitions(s) {
        val q = StreamOps.maintainAggregateStream(
          in.toDF().toDF("event_id", "user_id", "event_type", "sec"),
          initial, Seq("user_id"), rollup,
          Seq("t1" -> IncrementalAgg.MergeMin, "t2" -> IncrementalAgg.MergeMin,
            "t3" -> IncrementalAgg.MergeMin, "t4" -> IncrementalAgg.MergeMin))(df => state = df)
        foldBatches(in, rows.grouped(rows.length / 3 + 1).map(_.toSeq), q)
      }
      val s1 = col("t1").isNotNull
      val s2 = s1 && col("t2") > col("t1")
      val s3 = s2 && col("t3") > col("t2")
      val s4 = s3 && col("t4") > col("t3")
      state.select(
        sum(when(s1, 1L).otherwise(0L)).as("n_signup"),
        sum(when(s2, 1L).otherwise(0L)).as("n_viewed"),
        sum(when(s3, 1L).otherwise(0L)).as("n_clicked"),
        sum(when(s4, 1L).otherwise(0L)).as("n_purchased"))
    },

    // update-mode running heavy hitters under the driver gate: the
    // Misra–Gries FreqSketchAgg as cross-batch streaming state, in the
    // VALUE regime (40 bounded user buckets per type < capacity 64 ⇒ the
    // sketch never decrements and its estimates are exactly the true
    // counts no matter how the four micro-batches split the stream — the
    // dq_heavy_hitters gating argument, now across state-store folds).
    // The paired running count strictly increases per touch, so
    // max_by(hh, n) picks each key's LAST update from the memory sink
    "stream_heavy_hitters" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = Tables.events(s, dir)
        .where(col("event_id") % 5 === 0 && col("event_id") < 25000)
        .select(col("event_id"), col("event_type"),
          concat(lit("u"), col("user_id") % 40).as("item"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).map(t => (t._2, t._3))
      val in = MemoryStream[(String, String)]
      val name = s"stream_hh_sink_${sinkId.incrementAndGet()}"
      withFewPartitions(s) {
        val q = in.toDF().toDF("event_type", "item")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            graft.expressions.FreqSketchAgg.freqSketch(col("item"), 64).as("hh"))
          .writeStream.format("memory").queryName(name).outputMode("update").start()
        foldBatches(in, rows.grouped(rows.length / 4 + 1).map(_.toSeq), q)
      }
      s.table(name).groupBy(col("event_type"))
        .agg(max_by(col("hh"), col("n")).as("hh"))
        .select(col("event_type"), explode(col("hh")).as("x"))
        .select(col("event_type"), col("x.item").as("item"),
          col("x.est").as("n_events"))
        .orderBy("event_type", "item")
    },

    // streaming gap sessionization (q14's twin) under the driver gate:
    // the flatMapGroupsWithState operator closes sessions on event-time
    // timeout; sentinel batches advance the watermark so every open
    // session flushes. session_idx derives from per-user start order
    // after the fold (sessions of one user can't share a start second)
    "stream_sessionize" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import StreamOps.Event
      val ev = Tables.events(s, dir).where(col("event_id") % 5 === 0 && col("event_id") < 25000)
        .select(col("event_id"), floor(unix_timestamp(col("ts"))).cast("long").as("sec"),
          col("user_id"), col("event_type"), col("value"))
        .collect()
        .map(r => Event(r.getLong(0), new java.sql.Timestamp(r.getLong(1) * 1000L),
          r.getLong(2), r.getString(3), r.getDouble(4)))
        .sortBy(e => (e.ts.getTime, e.eventId))
      val maxSec = ev.map(_.ts.getTime).max / 1000L
      val sentinel = (i: Long) =>
        Event(-i, new java.sql.Timestamp((maxSec + 36000L * i) * 1000L), -1L, "s", 0.0)
      val in = MemoryStream[Event]
      val name = s"stream_sess_sink_${sinkId.incrementAndGet()}"
      withFewPartitions(s) {
        val q = StreamOps.sessionize(in.toDS(), 1800L)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        foldBatches(in,
          ev.grouped(ev.length / 3 + 1).map(_.toSeq) ++
            Iterator(Seq(sentinel(1)), Seq(sentinel(2))), q)
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("userId").orderBy("startSec")
      s.table(name).where(col("userId") =!= -1L)
        .withColumn("session_idx", row_number().over(w).cast("long"))
        .select(col("userId").as("user_id"), col("session_idx"),
          col("nEvents").as("n_events"), col("startSec").as("start_sec"),
          col("endSec").as("end_sec"))
        .orderBy("user_id", "session_idx")
    },

    // streaming MinHash-LSH near-dup pairs under the driver gate: the full
    // documents table fed in THREE batches through minhashPairsStream
    // (per-row native signature, shared bandHashes — bit-identical to the
    // batch banding by construction); state stores band-bucket members so
    // pairs form ACROSS batches. Streamed candidates are then verified
    // with the exact shingle Jaccard (Dedup.verifyJaccard, the batch
    // operator's own verify), so the oracle is dd_minhash_lsh's, verbatim
    "stream_minhash_pairs" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val feed = docs.select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val in = MemoryStream[(Long, String)]
      val name = s"stream_mh_sink_${sinkId.incrementAndGet()}"
      withFewPartitions(s) {
        val q = StreamOps.minhashPairsStream(
            in.toDF().toDF("doc_id", "text"), "doc_id", "text", tau = 0.8)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        foldBatches(in, feed.grouped(feed.length / 3 + 1).map(_.toSeq), q)
      }
      val cand = s.table(name)
        .select(col("aId").as("a_id"), col("bId").as("b_id")).distinct()
        // exact-Jaccard verify is CPU-bound per pair over tiny shuffled
        // bytes: pin its parallelism to the session shuffle width so AQE's
        // byte-based coalescing can't serialize it (same fix as
        // Dedup.prefixJaccardPairs; struct(a,b) so the exchange isn't
        // removed as redundant with the distinct's partitioning)
        .repartition(s.sessionState.conf.numShufflePartitions,
          struct(col("a_id"), col("b_id")))
      val shing = graft.operators.Dedup.shingleSets(docs, "doc_id",
        graft.expressions.TextExpressions.wordNgrams(col("text"), 3, distinct = true))
      graft.operators.Dedup.verifyJaccard(cand, shing, tau = 0.8)
        .orderBy("a_id", "b_id")
    },

    // streaming embedding near-dup pairs under the driver gate: the full
    // embeddings table fed in THREE batches through embeddingPairsStream —
    // random-hyperplane LSH buckets as state keys, each arrival scored
    // EXACTLY (left-to-right dot product, the oracle's fixed association)
    // against stored bucket members, so cross-batch pairs form with exact
    // cosines. DISTINCT collapses multi-table rediscovery of the same
    // pair; the oracle is dd_embed_lsh's, verbatim
    // STREAMING LEXICAL-INDEX UPKEEP (round 9 — BM25 as a continuously
    // maintained index, not a batch job): documents feed in three
    // micro-batches; each epoch computes ONLY ITS OWN postings (token
    // stream semi-joined to the broadcast query-term set before any
    // shuffle) and doc lengths, which UNION into the maintained index —
    // append-only corpora make upkeep a pure accumulate, the same
    // O(delta) shape as the catalog's stats log. The final ranking runs
    // from the MAINTAINED index alone (TextSearch.bm25FromIndex — the
    // batch scorer on the incrementally built tables) and must
    // hash-match ta_bm25's one-shot batch answer. Lineage is cut per
    // epoch, so the plan does not grow with stream length.
    "stream_bm25" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val qterms = Seq((1L, "fast"), (1L, "scan"), (2L, "merge"), (2L, "join"),
        (2L, "sort"), (3L, "stream"), (3L, "window"), (3L, "dup"))
        .toDF("query_id", "term")
      val termSet = qterms.select(col("term")).distinct()
      val feed = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val in = MemoryStream[(Long, String)]
      @volatile var post: DataFrame = null // (doc_id, term, tf)
      @volatile var dls: DataFrame = null // (doc_id, dl)
      withFewPartitions(s) {
        val q = in.toDF().toDF("doc_id", "text").writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val toks = batch.select(col("doc_id"),
              graft.functions.Text.tokens(col("text")).as("t"))
            val bd = toks.select(col("doc_id"), size(col("t")).as("dl"))
            val bp = toks
              .select(col("doc_id"), explode(col("t")).as("term"))
              .join(broadcast(termSet), "term")
              .groupBy(col("doc_id"), col("term"))
              .agg(count(lit(1)).as("tf"))
            post = (if (post == null) bp else post.unionAll(bp))
              .localCheckpoint(true)
            dls = (if (dls == null) bd else dls.unionAll(bd))
              .localCheckpoint(true)
            ()
          }.start()
        foldBatches(in, feed.grouped(feed.length / 3 + 1).map(_.toSeq), q)
      }
      graft.operators.TextSearch.bm25FromIndex(post, dls, qterms)
        .orderBy("query_id", "rank")
    },

    "stream_embed_pairs" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val feed = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          graft.functions.Vectors.toDoubleArray(col("embedding")).as("e"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
      val in = MemoryStream[(Long, Seq[Double])]
      val name = s"stream_emb_sink_${sinkId.incrementAndGet()}"
      withFewPartitions(s) {
        val q = StreamOps.embeddingPairsStream(
            in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", tau = 0.4)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        foldBatches(in, feed.grouped(feed.length / 3 + 1).map(_.toSeq), q)
      }
      s.table(name)
        .select(col("aId").as("a_id"), col("bId").as("b_id"), col("cosine"))
        .distinct()
        .orderBy("a_id", "b_id")
    },

    // streaming simhash near-dup pairs under the driver gate: the full
    // documents table in three batches through nearDupPairsStream (per-row
    // 60-bit simhash, 4-quarter bucket state — guaranteed recall at
    // Hamming ≤ 3); a pair sharing several quarters re-emits per quarter,
    // DISTINCT collapses it. Oracle is dd_simhash_pairs's, verbatim
    "stream_simhash_pairs" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val feed = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val in = MemoryStream[(Long, String)]
      val name = s"stream_sh_sink_${sinkId.incrementAndGet()}"
      withFewPartitions(s) {
        val q = StreamOps.nearDupPairsStream(
            in.toDF().toDF("doc_id", "text"), "doc_id", "text", maxDist = 3)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        foldBatches(in, feed.grouped(feed.length / 3 + 1).map(_.toSeq), q)
      }
      s.table(name)
        .select(col("aId").as("a_id"), col("bId").as("b_id"), col("hamming"))
        .distinct()
        .orderBy("a_id", "b_id")
    },

    // streaming AS-OF join (stream-stream) under the driver gate — the
    // continuous q18: facts and dim rates feed as two MemoryStreams in
    // lockstep TIME-sliced batches (after slice i the union watermark is
    // ≤ the slice boundary, so every right at-or-before any emitted left
    // has provably arrived — the exactness invariant, count-slices would
    // only approximate it); sentinel rows push the watermark past the
    // last real event so every pending left flushes. Oracle: DuckDB's
    // native ASOF LEFT JOIN over the same capped feed
    "stream_asof" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import StreamOps.{AsofLeft, AsofRight}
      val ev = Tables.events(s, dir)
        .where(col("event_id") % 5 === 0 && col("event_id") < 25000)
        .select(col("event_id"), col("user_id"),
          floor(unix_timestamp(col("ts"))).cast("long").as("sec"), col("value"))
        .localCheckpoint(eager = true)
      val facts = ev.select(col("user_id"), col("sec"), col("value")).collect()
        .map(r => AsofLeft(r.getLong(0),
          new java.sql.Timestamp(r.getLong(1) * 1000L), r.getDouble(2)))
      val dim = ev.where(col("event_id") % 50 === 0)
        .groupBy(col("user_id"), col("sec")).agg(max(col("value")).as("rate"))
        .collect()
        .map(r => AsofRight(r.getLong(0),
          new java.sql.Timestamp(r.getLong(1) * 1000L), r.getDouble(2)))
      val lo = facts.map(_.ts.getTime).min
      val hi = facts.map(_.ts.getTime).max
      val cut = (1 to 2).map(i => lo + (hi - lo) * i / 3)
      def slice[T](xs: Array[T], ts: T => Long): Seq[Seq[T]] = Seq(
        xs.filter(x => ts(x) <= cut(0)).toSeq,
        xs.filter(x => ts(x) > cut(0) && ts(x) <= cut(1)).toSeq,
        xs.filter(x => ts(x) > cut(1)).toSeq)
      val lb = slice[AsofLeft](facts, _.ts.getTime)
      val rb = slice[AsofRight](dim, _.ts.getTime)
      val inL = MemoryStream[AsofLeft]
      val inR = MemoryStream[AsofRight]
      val name = s"stream_asof_sink_${sinkId.incrementAndGet()}"
      withFewPartitions(s) {
        val q = StreamOps.asofJoinStream(inL.toDS(), inR.toDS())
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          (0 until 3).foreach { i =>
            inR.addData(rb(i)); inL.addData(lb(i)); q.processAllAvailable()
          }
          (1 to 2).foreach { k => // sentinels: advance the watermark, flush
            val t = new java.sql.Timestamp(hi + k * 86400000L)
            inR.addData(AsofRight(-1L, t, 0.0))
            inL.addData(AsofLeft(-1L, t, 0.0))
            q.processAllAvailable()
          }
        } finally q.stop()
      }
      s.table(name).where(col("key") =!= -1L)
        .select(col("key").as("user_id"), col("sec"), col("value"), col("rate"))
        .orderBy("user_id", "sec", "value", "rate")
    },

    // streaming corpus clean under the driver gate: the training-feed
    // composition as ONE continuous query — stateless TokenStats quality
    // gate fused into the scan, then the single stateful stage (exact-dup
    // drop on the normalized-text fingerprint) — fed in three batches
    // with synthetic event times inside one watermark horizon
    "stream_corpus_clean" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val feed = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        .map { case (id, t) =>
          (id, new java.sql.Timestamp(1700000000000L + id * 1000L), t)
        }
      val in = MemoryStream[(Long, java.sql.Timestamp, String)]
      val name = s"stream_cc_sink_${sinkId.incrementAndGet()}"
      withFewPartitions(s) {
        val q = StreamOps.corpusCleanStream(
            in.toDF().toDF("doc_id", "ts", "text"), minTokens = 30,
            watermark = "3650 days")
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        foldBatches(in, feed.grouped(feed.length / 3 + 1).map(_.toSeq), q)
      }
      s.table(name)
        .select(col("doc_id"), col("n_tokens"))
        .orderBy("doc_id")
    },

    // stream → partitioned parquet data lake under the driver gate: a
    // capped events feed lands in an event_type-partitioned parquet sink
    // (file-sink commit log = exactly-once) across three micro-batches;
    // the read-back must reproduce the feed exactly — every row once,
    // values byte-exact through the parquet round trip
    "stream_parquet_sink" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val base = Etl.scratch(s, s"stream_sink_${sinkId.incrementAndGet()}")
      val feed = Tables.events(s, dir).where(col("event_id") < 3000)
        .select(col("event_id"), col("event_type"), col("value"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
      val in = MemoryStream[(Long, String, Double)]
      withFewPartitions(s) {
        val q = StreamOps.toPartitionedParquet(
          in.toDF().toDF("event_id", "event_type", "value"),
          s"$base/data", s"$base/chk", Seq("event_type"))
        foldBatches(in, feed.grouped(feed.length / 3 + 1).map(_.toSeq), q)
      }
      s.read.parquet(s"$base/data")
        .select(col("event_id"), col("event_type").cast("string"), col("value"))
        .orderBy("event_id")
    },

    // checkpoint recovery under the driver gate: two batches commit, the
    // query STOPS, a NEW query against the SAME checkpoint + sink resumes
    // from a replacement source that re-serves the committed offsets (as
    // a replayable source like Kafka would) — the recovered query re-reads
    // the last batch and the file-sink commit log must drop it. The
    // read-back equals the feed exactly once: a duplicated replay or a
    // lost batch both break the row/hash gate
    "stream_checkpoint_recovery" -> { (s, dir) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val base = Etl.scratch(s, s"stream_recover_${sinkId.incrementAndGet()}")
      val feed = Tables.events(s, dir).where(col("event_id") < 2000)
        .select(col("event_id"), col("event_type"), col("value"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
      val Seq(b1, b2, b3) = feed.grouped(feed.length / 3 + 1).map(_.toSeq).toSeq
      withFewPartitions(s) {
        val in1 = MemoryStream[(Long, String, Double)]
        val q1 = StreamOps.toPartitionedParquet(
          in1.toDF().toDF("event_id", "event_type", "value"),
          s"$base/data", s"$base/chk", Seq("event_type"))
        in1.addData(b1); q1.processAllAvailable()
        in1.addData(b2); q1.processAllAvailable()
        q1.stop()
        val in2 = MemoryStream[(Long, String, Double)]
        in2.addData(b1); in2.addData(b2) // cover committed offsets: replay
        val q2 = StreamOps.toPartitionedParquet(
          in2.toDF().toDF("event_id", "event_type", "value"),
          s"$base/data", s"$base/chk", Seq("event_type"))
        try { in2.addData(b3); q2.processAllAvailable() } finally q2.stop()
      }
      s.read.parquet(s"$base/data")
        .select(col("event_id"), col("event_type").cast("string"), col("value"))
        .orderBy("event_id")
    }
  )

  // DuckDB replay fragments for the dedup signature (same forms as
  // DedupQueries' oracles: whitespace tokens, md5 fingerprint of the
  // lowercased token stream, 60-bit token-vote simhash)
  private val normToksSql = "list_filter(string_split(lower(text), ' '), t -> t != '')"
  private val rawToksSql = "list_filter(string_split(text, ' '), t -> t != '')"
  private val simhashSql =
    s"""list_sum([
       |  CASE WHEN list_sum([
       |    CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END
       |    for h in [('0x' || substring(md5(t), 1, 15))::BIGINT for t in $rawToksSql]]) > 0
       |  THEN 1::BIGINT << i ELSE 0::BIGINT END
       |  for i in generate_series(0, 59)])::BIGINT""".stripMargin

  val oracle: Map[String, String] = Map(
    // identical to ta_bm25's oracle: the incrementally maintained index
    // must rank exactly like the one-shot batch scorer
    "stream_bm25" -> TextQueries.oracle("ta_bm25"),

    // identical to etl_embed_ivf's oracle: the streamed, per-batch
    // assigned, partition-routed table must serve the same probe answer
    // as the batch pipeline
    // the per-epoch ingest ledger: chunk sizes are N/3+1 by construction
    // (integer division), epochs 1..3 — the graph-equality invariant
    // itself is asserted in-query (no SQL analog: it compares two
    // engine-built graphs bit-for-bit)
    // ledger shape derived from the orders count and the N/3+1 chunking
    // by construction; versions_synced pinned by the 1-commit-per-epoch
    // exactly-once sink (epoch 1 also ships the CREATE manifest)
    "stream_replicate" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM orders),
        |c AS (SELECT CAST(FLOOR(n / 3) + 1 AS BIGINT) AS c, n FROM n)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS epoch,
        |         CAST(2 AS BIGINT) AS versions_synced,
        |         c AS rows_mirrored FROM c
        |  UNION ALL SELECT 2, 1, 2 * c FROM c
        |  UNION ALL SELECT 3, 1, n FROM c)
        |ORDER BY epoch""".stripMargin,

    "stream_ann_upkeep" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
        |c AS (SELECT CAST(FLOOR(n / 3) + 1 AS BIGINT) AS c, n FROM n)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS epoch, c AS new_nodes,
        |         c AS indexed_total FROM c
        |  UNION ALL SELECT 2, c, 2 * c FROM c
        |  UNION ALL SELECT 3, n - 2 * c, n FROM c)
        |ORDER BY epoch""".stripMargin,

    "stream_embed_ivf" -> {
      val cos = graft.queries.SimilarityQueries.cosSql _
      s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |c AS (SELECT vec_id AS c_id, e AS c_e FROM v WHERE vec_id % 32 = 0),
         |asg AS (SELECT id, c_id FROM (
         |  SELECT v.vec_id AS id, c.c_id,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${cos("v.e", "c.c_e")} DESC, c.c_id) AS rn
         |  FROM v CROSS JOIN c) WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, e AS q_e FROM v WHERE vec_id < 10),
         |probes AS (SELECT q_id, c_id FROM (
         |  SELECT q.q_id, c.c_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id
         |      ORDER BY ${cos("q.q_e", "c.c_e")} DESC, c.c_id) AS pr
         |  FROM q CROSS JOIN c) WHERE pr <= 2),
         |cand AS (SELECT p.q_id, a.id AS n_id
         |  FROM probes p JOIN asg a ON a.c_id = p.c_id
         |  WHERE a.id != p.q_id),
         |sc AS (SELECT cand.q_id, cand.n_id,
         |  ${cos("qq.q_e", "nn.e")} AS cosine
         | FROM cand JOIN q qq ON qq.q_id = cand.q_id
         |           JOIN v nn ON nn.vec_id = cand.n_id),
         |r AS (SELECT q_id, n_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
         | FROM sc)
         |SELECT q_id, n_id, cosine, rank FROM r WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin
    },

    "stream_ingest_dedup" -> {
      def kf(b: String) =
        s"(SELECT * FROM $b QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1)"
      def surv(kfName: String, idx: String) =
        s"""SELECT k.doc_id, k.fp, k.sh FROM $kfName k
           | WHERE NOT EXISTS (SELECT 1 FROM $idx i WHERE i.fp = k.fp)
           |   AND NOT EXISTS (SELECT 1 FROM $idx i
           |                   WHERE bit_count(xor(i.sh, k.sh)) <= 3)""".stripMargin
      s"""WITH sig AS (SELECT doc_id,
         |  md5(array_to_string($normToksSql, ' ')) AS fp,
         |  $simhashSql AS sh
         | FROM documents),
         |c AS (SELECT doc_id, fp, sh FROM sig WHERE doc_id % 5 != 0),
         |b1 AS (SELECT * FROM sig WHERE doc_id % 5 = 0 AND doc_id < 2500
         |       AND (doc_id // 5) % 3 = 0),
         |b2 AS (SELECT * FROM sig WHERE doc_id % 5 = 0 AND doc_id < 2500
         |       AND (doc_id // 5) % 3 = 1),
         |b3 AS (SELECT * FROM sig WHERE doc_id % 5 = 0 AND doc_id < 2500
         |       AND (doc_id // 5) % 3 = 2),
         |kf1 AS ${kf("b1")},
         |s1 AS (${surv("kf1", "c")}),
         |i1 AS (SELECT fp, sh FROM c UNION ALL SELECT fp, sh FROM s1),
         |kf2 AS ${kf("b2")},
         |s2 AS (${surv("kf2", "i1")}),
         |i2 AS (SELECT * FROM i1 UNION ALL SELECT fp, sh FROM s2),
         |kf3 AS ${kf("b3")},
         |s3 AS (${surv("kf3", "i2")})
         |SELECT d.doc_id, d.source, d.n_chars FROM documents d
         |JOIN (SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2
         |      UNION ALL SELECT doc_id FROM s3) s USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "stream_dedup" ->
      """SELECT event_id, user_id FROM events
        |WHERE event_id % 5 = 0 AND event_id < 25000
        |ORDER BY event_id""".stripMargin,

    "stream_row_cdc" ->
      """WITH base AS (SELECT o_orderkey AS ckey,
        |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        | FROM orders WHERE o_orderkey % 3 = 0),
        |fin AS (SELECT ckey,
        |  cents + CASE WHEN ckey % 2 = 0 THEN 5 ELSE 0 END AS cents
        | FROM base WHERE ckey % 7 <> 0)
        |SELECT ckey % 5 AS grp, COUNT(*) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin,

    "stream_catalog_cdf" ->
      """WITH base AS (SELECT o_orderkey AS id, o_orderstatus AS status,
        |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        | FROM orders WHERE o_orderkey % 3 = 0),
        |chg AS (SELECT o_orderkey AS id,
        |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) + 7 AS cents
        | FROM orders WHERE o_orderkey % 5 = 0),
        |merged AS (
        | SELECT b.id,
        |  CASE WHEN c.id IS NOT NULL THEN 'S' ELSE b.status END AS status,
        |  CASE WHEN c.id IS NOT NULL THEN c.cents ELSE b.cents END AS cents
        | FROM base b LEFT JOIN chg c ON b.id = c.id
        | UNION ALL
        | SELECT c.id, 'N', c.cents FROM chg c LEFT JOIN base b ON c.id = b.id
        | WHERE b.id IS NULL)
        |SELECT id, status, cents FROM merged WHERE id % 7 <> 0
        |ORDER BY id""".stripMargin,

    "stream_window_agg" ->
      """SELECT CAST(FLOOR(EPOCH(date_trunc('hour', ts))) AS BIGINT) AS hour_sec,
        | event_type, COUNT(*) AS n_events,
        | SUM(FLOOR(value * 100)) AS sum_cents
        |FROM events WHERE event_id % 5 = 0 AND event_id < 25000
        |GROUP BY 1, 2 ORDER BY hour_sec, event_type""".stripMargin,

    "stream_drift" ->
      """WITH a AS (
        |  SELECT LEAST(FLOOR(o_totalprice / 20000)::BIGINT, 9) AS bucket,
        |    count(*) AS cnt_a
        |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY bucket),
        |b AS (
        |  SELECT LEAST(FLOOR(
        |    (CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10000
        |          ELSE o_totalprice END) / 20000)::BIGINT, 9) AS bucket,
        |    count(*) AS cnt_b
        |  FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey < 20000
        |  GROUP BY bucket),
        |j AS (SELECT COALESCE(a.bucket, b.bucket) AS bucket,
        |  COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
        | FROM a FULL OUTER JOIN b ON a.bucket = b.bucket),
        |t AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS tot_a,
        |  CAST(sum(cnt_b) AS BIGINT) AS tot_b FROM j)
        |SELECT bucket, cnt_a, cnt_b,
        | abs(cnt_a * tot_b - cnt_b * tot_a) AS l1_num
        |FROM j CROSS JOIN t ORDER BY bucket""".stripMargin,

    "stream_ohlc" ->
      """WITH e AS (SELECT event_type, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec,
        |  event_id, value FROM events
        | WHERE event_id % 5 = 0 AND event_id < 25000)
        |SELECT (FLOOR(sec / 3600)::BIGINT * 3600) AS hour_sec, event_type,
        | arg_min(value, sec * 10000000 + event_id) AS open,
        | MAX(value) AS high, MIN(value) AS low,
        | arg_max(value, sec * 10000000 + event_id) AS close,
        | COUNT(*) AS n_events
        |FROM e GROUP BY hour_sec, event_type
        |ORDER BY hour_sec, event_type""".stripMargin,

    "stream_enrich" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_nationkey
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey < 20000
        |ORDER BY o_orderkey""".stripMargin,

    "stream_interval_join" ->
      """WITH i AS (SELECT event_id AS i_id, user_id,
        |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS i_sec FROM events
        |  WHERE event_id % 10 = 0 AND event_id < 25000),
        |c AS (SELECT event_id AS c_id, user_id,
        |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS c_sec FROM events
        |  WHERE event_id % 10 = 5 AND event_id < 25000)
        |SELECT i.user_id AS user_id, i.i_id, c.c_id, c.c_sec - i.i_sec AS lag_sec
        |FROM i JOIN c ON i.user_id = c.user_id
        | AND c.c_sec >= i.i_sec AND c.c_sec <= i.i_sec + 1800
        |ORDER BY i.user_id, i_id, c_id""".stripMargin,

    "stream_topk" ->
      """WITH c AS (SELECT user_id, FLOOR(value * 100)::BIGINT AS cents
        |  FROM events WHERE event_id % 5 = 0 AND event_id < 25000)
        |SELECT user_id, COUNT(*) AS n_events,
        | array_to_string(list_slice(list(cents ORDER BY cents DESC), 1, 3), ',')
        |   AS top_cents
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,

    "stream_transitions" ->
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec, event_type FROM events
        |  WHERE event_id % 5 = 0 AND event_id < 25000),
        |x AS (SELECT user_id, event_type,
        |  LEAD(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id)
        |    AS next_type FROM e),
        |cnt AS (SELECT event_type AS from_type, next_type AS to_type,
        |  COUNT(*) AS n FROM x WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        | FROM cnt GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        | c.n::DOUBLE / t.n_from::DOUBLE AS p
        |FROM cnt c JOIN tot t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    "stream_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |  FLOOR(epoch(ts))::BIGINT AS sec FROM events
        |  WHERE event_id % 5 = 0 AND event_id < 25000),
        |pu AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN sec END) AS t1,
        |  min(CASE WHEN event_type = 'view' THEN sec END) AS t2,
        |  min(CASE WHEN event_type = 'click' THEN sec END) AS t3,
        |  min(CASE WHEN event_type = 'purchase' THEN sec END) AS t4
        | FROM e GROUP BY user_id)
        |SELECT
        |  CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 > t1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
        |  CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked,
        |  CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2 AND t4 > t3 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased
        |FROM pu""".stripMargin,

    "stream_heavy_hitters" ->
      """WITH e AS (SELECT event_type,
        |  'u' || CAST(user_id % 40 AS VARCHAR) AS item FROM events
        |  WHERE event_id % 5 = 0 AND event_id < 25000)
        |SELECT event_type, item, COUNT(*) AS n_events
        |FROM e GROUP BY event_type, item
        |ORDER BY event_type, item""".stripMargin,

    "stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, FLOOR(epoch(ts))::BIGINT AS sec, event_id FROM events
        |  WHERE event_id % 5 = 0 AND event_id < 25000),
        |x AS (
        |  SELECT user_id, sec, event_id,
        |   CASE WHEN LAG(sec) OVER w IS NULL OR sec - LAG(sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
        |y AS (
        |  SELECT user_id, sec,
        |   SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM x)
        |SELECT user_id, session_idx::BIGINT AS session_idx, COUNT(*) AS n_events,
        | MIN(sec) AS start_sec, MAX(sec) AS end_sec
        |FROM y GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,
    "stream_cdc_apply" ->
      """WITH ch AS (SELECT o_custkey AS c_custkey, 'upd_' || o_orderkey AS c_name,
        |  o_totalprice AS c_acctbal, o_orderkey AS seq,
        |  CASE WHEN o_orderkey % 20 = 0 THEN 'D' ELSE 'U' END AS op FROM orders
        |  WHERE o_orderkey < 20000),
        |latest AS (SELECT * FROM ch QUALIFY ROW_NUMBER() OVER (
        |  PARTITION BY c_custkey ORDER BY seq DESC, (op = 'D') DESC) = 1),
        |kept AS (SELECT c.c_custkey, c.c_name, c.c_acctbal FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = c.c_custkey)),
        |ups AS (SELECT c_custkey, c_name, c_acctbal FROM latest WHERE op = 'U')
        |SELECT * FROM kept UNION ALL SELECT * FROM ups ORDER BY c_custkey""".stripMargin,

    "stream_quantiles" ->
      """WITH v AS (SELECT event_type, value,
        |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |  COUNT(*) OVER (PARTITION BY event_type) AS n
        | FROM events WHERE event_id < 3000)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_vals,
        |  MAX(CASE WHEN rn = CEIL(0.5 * n) THEN value END) AS p50,
        |  MAX(CASE WHEN rn = CEIL(0.95 * n) THEN value END) AS p95
        |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stream_medallion" ->
      """SELECT o_orderstatus AS status,
        | CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        | COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,

    "stream_catalog_source" ->
      """SELECT o_orderstatus AS status,
        | CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        | COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,

    "stream_eq_upsert" ->
      """WITH base AS (SELECT o_orderkey AS ckey,
        |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
        |  CASE WHEN o_orderkey % 4 < 2 THEN 'p0' ELSE 'p1' END AS seg
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |chg AS (SELECT o_orderkey AS ckey,
        |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) + 7 AS cents,
        |  CASE WHEN o_orderkey % 6 = 0 THEN
        |    (CASE WHEN o_orderkey % 4 < 2 THEN 'p1' ELSE 'p0' END)
        |  WHEN o_orderkey % 4 < 2 THEN 'p0' ELSE 'p1' END AS seg
        |  FROM orders
        |  WHERE (o_orderkey % 3 = 1 OR o_orderkey % 6 = 0)
        |    AND o_orderkey < 30000),
        |merged AS (SELECT COALESCE(c.ckey, b.ckey) AS ckey,
        |  COALESCE(c.cents, b.cents) AS cents,
        |  COALESCE(c.seg, b.seg) AS seg
        |  FROM base b FULL JOIN chg c ON b.ckey = c.ckey)
        |SELECT seg, ckey % 5 AS grp, COUNT(*) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM merged GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "stream_catalog_upsert" ->
      """WITH ch AS (SELECT o_custkey AS c_custkey, 'upd_' || o_orderkey AS c_name,
        |  o_totalprice AS c_acctbal, o_orderkey AS seq,
        |  CASE WHEN o_orderkey % 20 = 0 THEN 'D' ELSE 'U' END AS op FROM orders
        |  WHERE o_orderkey < 20000),
        |latest AS (SELECT * FROM ch QUALIFY ROW_NUMBER() OVER (
        |  PARTITION BY c_custkey ORDER BY seq DESC, (op = 'D') DESC) = 1),
        |kept AS (SELECT c.c_custkey, c.c_name, c.c_acctbal FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = c.c_custkey)),
        |ups AS (SELECT c_custkey, c_name, c_acctbal FROM latest WHERE op = 'U')
        |SELECT * FROM kept UNION ALL SELECT * FROM ups ORDER BY c_custkey""".stripMargin,

    "stream_catalog_sink" ->
      """SELECT o_orderkey AS id, o_orderstatus AS status,
        | CAST(FLOOR(o_totalprice * 100) + 1 AS BIGINT) AS cents
        |FROM orders ORDER BY id""".stripMargin,

    "stream_day_ingest" ->
      """WITH d0 AS (SELECT CAST(min(ts) AS DATE) AS d FROM events
        |            WHERE event_id < 10000)
        |SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE event_id < 10000
        |  AND ts >= CAST((SELECT d FROM d0) + 3 AS TIMESTAMP)
        |  AND ts < CAST((SELECT d FROM d0) + 6 AS TIMESTAMP)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "stream_bucket_sink" ->
      """SELECT c_mktsegment AS seg, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey < 20000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "stream_scd2" ->
      """WITH ch AS (SELECT o_custkey AS c_custkey, 'upd_' || o_orderkey AS c_name,
        |  o_totalprice AS c_acctbal, o_orderkey AS seq,
        |  CASE WHEN o_orderkey % 20 = 0 THEN 'D' ELSE 'U' END AS op FROM orders
        |  WHERE o_orderkey < 20000),
        |r AS (SELECT *, seq AS valid_from,
        |  LEAD(seq) OVER (PARTITION BY c_custkey ORDER BY seq) AS valid_to
        | FROM ch)
        |SELECT c_custkey, c_name, c_acctbal, valid_from, valid_to,
        | (valid_to IS NULL) AS is_current
        |FROM r WHERE op = 'U' ORDER BY c_custkey, valid_from""".stripMargin,

    "stream_double_charge" ->
      """WITH o AS (SELECT o_custkey,
        |  FLOOR(FLOOR(EPOCH(o_orderdate)) / 86400)::BIGINT AS day_num,
        |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
        | FROM orders)
        |SELECT o_custkey, day_num, COUNT(*) AS n_orders,
        | MIN(o_orderkey) AS first_ok, MAX(o_orderkey) AS last_ok,
        | (MAX(cents) - MIN(cents))::BIGINT AS cents_spread
        |FROM o GROUP BY 1, 2 HAVING COUNT(*) > 1
        |ORDER BY o_custkey, day_num""".stripMargin,

    "stream_survivorship" ->
      """WITH a AS (SELECT c_custkey AS k, 1 AS pri,
        |  (c_custkey % 90)::BIGINT AS upd,
        |  CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END AS name,
        |  CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END AS acctbal,
        |  c_mktsegment AS segment FROM customer),
        |b AS (SELECT c_custkey AS k, 2 AS pri,
        |  ((c_custkey * 7) % 90)::BIGINT AS upd,
        |  CASE WHEN c_custkey % 11 = 0 THEN NULL
        |    ELSE 'crm_' || c_name END AS name,
        |  CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 100.0
        |    ELSE NULL END AS acctbal,
        |  CASE WHEN c_custkey % 4 = 0 THEN NULL
        |    ELSE c_mktsegment END AS segment FROM customer),
        |u AS (SELECT *, upd * 10 + (9 - pri) AS ord
        |      FROM (SELECT * FROM a UNION ALL SELECT * FROM b))
        |SELECT k AS c_custkey, COUNT(*) AS n_sources,
        | arg_max(name, ord) FILTER (name IS NOT NULL) AS name,
        | arg_max(acctbal, ord) FILTER (acctbal IS NOT NULL) AS acctbal,
        | arg_max(segment, ord) FILTER (segment IS NOT NULL) AS segment
        |FROM u GROUP BY k ORDER BY c_custkey""".stripMargin,

    "stream_cume_users" ->
      """WITH f AS (SELECT user_id,
        |  MIN(FLOOR(FLOOR(EPOCH(ts)) / 86400)::BIGINT) AS first_day
        | FROM events GROUP BY user_id),
        |p AS (SELECT first_day AS day_num, COUNT(*) AS n_new_users
        | FROM f GROUP BY first_day)
        |SELECT day_num, n_new_users,
        | CAST(SUM(n_new_users) OVER (ORDER BY day_num
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cume_users
        |FROM p ORDER BY day_num""".stripMargin,

    "stream_mv_upkeep" ->
      """SELECT o_custkey, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(8,2))) AS DOUBLE) AS total,
        | CAST(max(CAST(o_totalprice AS DECIMAL(8,2))) AS DOUBLE) AS max_price
        |FROM orders WHERE o_orderkey < 20000 GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "stream_running_total" ->
      """SELECT user_id, COUNT(*) AS n_events,
        | SUM(FLOOR(value * 100)) AS total_cents
        |FROM events WHERE event_id % 5 = 0 AND event_id < 25000
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "stream_locf" ->
      """SELECT user_id, event_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec,
        | CASE WHEN event_id % 4 = 0 THEN value END AS reading,
        | last_value(CASE WHEN event_id % 4 = 0 THEN value END IGNORE NULLS)
        |   OVER (PARTITION BY user_id
        |         ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT), event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS reading_filled
        |FROM events WHERE event_id % 5 = 0 AND event_id < 25000
        |ORDER BY user_id, event_id""".stripMargin,

    // the streaming LSH pair entries share their BATCH twins' oracles
    // verbatim: identical pair sets + identical doubles = the streaming
    // operator reached the same answer as the batch operator
    "stream_minhash_pairs" -> DedupQueries.oracle("dd_minhash_lsh"),
    "stream_embed_pairs" -> DedupQueries.oracle("dd_embed_lsh"),
    "stream_simhash_pairs" -> DedupQueries.oracle("dd_simhash_pairs"),

    "stream_asof" ->
      """WITH e AS (SELECT event_id, user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec, value
        |          FROM events WHERE event_id % 5 = 0 AND event_id < 25000),
        |d AS (SELECT user_id, sec AS dim_sec, MAX(value) AS rate FROM e
        |      WHERE event_id % 50 = 0 GROUP BY user_id, sec)
        |SELECT e.user_id AS user_id, e.sec AS sec, e.value AS value, d.rate AS rate
        |FROM e ASOF LEFT JOIN d ON e.user_id = d.user_id AND e.sec >= d.dim_sec
        |ORDER BY e.user_id, e.sec, e.value, d.rate""".stripMargin,

    "stream_corpus_clean" ->
      s"""WITH t AS (SELECT doc_id, text,
         |  len(${TextQueries.toksSql}) AS n_tokens FROM documents)
         |SELECT doc_id, n_tokens FROM t WHERE n_tokens >= 30
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(array_to_string(
         |  list_filter(string_split(lower(text), ' '), tk -> tk != ''), ' '))
         |  ORDER BY doc_id) = 1
         |ORDER BY doc_id""".stripMargin,

    "stream_parquet_sink" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id < 3000 ORDER BY event_id""".stripMargin,

    "stream_checkpoint_recovery" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id < 2000 ORDER BY event_id""".stripMargin
  )
}
