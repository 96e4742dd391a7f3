package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized model check of the equality-delete upsert across the FULL
  * layout matrix: random initial states, random epoch sequences
  * (append / upsert / fold / schema evolution), each epoch's visible
  * state compared against an in-memory last-writer-wins model, and the
  * whole commit HISTORY replayed through VERSION AS OF at the end. The
  * deterministic specs prove each composition once; this sweeps the
  * combination space (upsert after fold, fold after evolution, appends
  * interleaved between upserts, partition/day moves on re-upserted
  * keys) where the interactions live.
  */
@org.scalatest.tags.Slow
class GraftEqUpsertFuzzSpec extends SparkSpec {

  import spark.implicits._

  private lazy val warehouse =
    Files.createTempDirectory("graft_eqfuzz_wh").toFile.getAbsolutePath

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_eqfz", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_eqfz.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_eqfz.db")
  }

  // layouts under test; the derived column rides VALUES so updates can
  // MOVE a row across partitions/days — the global-masking semantics the
  // deterministic specs assert once, here exercised at random
  private sealed trait Layout { def ddl(name: String): String }
  private case object Flat extends Layout {
    def ddl(n: String) =
      s"""CREATE TABLE $n (k BIGINT, v BIGINT, s STRING)
         |TBLPROPERTIES('history'='true')""".stripMargin
  }
  private case object RowId extends Layout {
    def ddl(n: String) =
      s"""CREATE TABLE $n (k BIGINT, v BIGINT, s STRING)
         |TBLPROPERTIES('history'='true','rowid'='true')""".stripMargin
  }
  private case object ValuePart extends Layout {
    def ddl(n: String) =
      s"""CREATE TABLE $n (k BIGINT, v BIGINT, s STRING)
         |PARTITIONED BY (s) TBLPROPERTIES('history'='true')""".stripMargin
  }
  private case object Days extends Layout {
    def ddl(n: String) =
      s"""CREATE TABLE $n (k BIGINT, v BIGINT, s STRING, ts TIMESTAMP)
         |PARTITIONED BY (days(ts)) TBLPROPERTIES('history'='true')""".stripMargin
  }
  private case object Bucketed extends Layout {
    def ddl(n: String) =
      s"""CREATE TABLE $n (k BIGINT, v BIGINT, s STRING)
         |PARTITIONED BY (bucket(3, k)) TBLPROPERTIES('history'='true')""".stripMargin
  }

  // every non-key column derives from (k, v) so the model is just
  // k -> v; sDer recomputes the derived value for comparison
  private def sDer(v: Long): String = "p" + math.floorMod(v, 3)

  private def changesDf(rows: Seq[(Long, Long)], hasTs: Boolean,
                        vName: String) = {
    val base = rows.toDF("k", "v")
      .withColumn("s", concat(lit("p"), pmod(col("v"), lit(3)).cast("string")))
    val withTs =
      if (!hasTs) base
      else base.withColumn("ts",
        to_timestamp(concat(lit("2024-03-0"),
          (pmod(col("v"), lit(5)) + 1).cast("string"), lit(" 12:00:00"))))
    withTs.withColumnRenamed("v", vName)
  }

  private def readState(tbl: String, versionAsOf: Option[Long],
                        vName: String): Map[Long, Long] = {
    val t = versionAsOf match {
      case Some(ver) => spark.sql(s"SELECT * FROM $tbl VERSION AS OF $ver")
      case None => spark.table(tbl)
    }
    val rows = t.select(col("k"), col(vName).cast("long"), col("s")).collect()
    rows.foreach { r =>
      assert(r.getString(2) == sDer(r.getLong(1)),
        s"$tbl: derived partition column diverged for k=${r.getLong(0)}")
    }
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("random append/upsert/fold/evolve epochs match the LWW model on " +
      "every layout, at head AND through the whole VERSION AS OF history") {
    val rnd = new scala.util.Random(20260816L)
    val layouts: Seq[(Layout, String)] = Seq(
      Flat -> "fz_flat", RowId -> "fz_rowid", ValuePart -> "fz_part",
      Days -> "fz_days", Bucketed -> "fz_bucket")
    layouts.foreach { case (layout, short) =>
      val tbl = s"graft_eqfz.db.$short"
      spark.sql(layout.ddl(tbl))
      val hasTs = layout == Days
      val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/$short")
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      var vName = "v"
      val model = scala.collection.mutable.Map.empty[Long, Long]
      // (version, model snapshot) — replayed at the end; time travel
      // serves pre-rename files through the CURRENT schema, so the
      // replay always reads the final column name
      val history = scala.collection.mutable.Buffer.empty[(Long, Map[Long, Long])]
      def record(): Unit = {
        val ver = GraftTable.manifestVersions(fs, dir).last
        history += ((ver, model.toMap))
      }
      // random initial state: 0-2 appended slices
      var nextFresh = 1000L
      def appendSlice(): Unit = {
        val n = 10 + rnd.nextInt(20)
        val rows = (nextFresh until nextFresh + n).map(k => (k, k * 3 + rnd.nextInt(7)))
        nextFresh += n
        rows.foreach { case (k, v) => model(k) = v }
        changesDf(rows, hasTs, vName).writeTo(tbl).append()
        record()
      }
      (0 until rnd.nextInt(3)).foreach(_ => appendSlice())
      val epochs = 4 + rnd.nextInt(3)
      (0 until epochs).foreach { ep =>
        rnd.nextInt(10) match {
          case r if r < 5 => // UPSERT: keys half-in half-out of the model
            val keys = (0 until rnd.nextInt(30)).map { _ =>
              if (model.nonEmpty && rnd.nextBoolean())
                model.keySet.toSeq(rnd.nextInt(model.size))
              else 5000L + rnd.nextInt(200)
            }.distinct
            val rows = keys.map(k => (k, rnd.nextInt(100000).toLong))
            if (rows.isEmpty) {
              // empty change set: a NO-OP, not a commit
              val before = GraftTable.manifestVersions(fs, dir).lastOption.getOrElse(0L)
              val got = GraftEqDelete.upsert(spark, "graft_eqfz", s"db.$short",
                changesDf(rows, hasTs, vName), Seq("k"))
              assert(got == before, s"$tbl: empty upsert must not commit")
            } else {
              rows.foreach { case (k, v) => model(k) = v }
              GraftEqDelete.upsert(spark, "graft_eqfz", s"db.$short",
                changesDf(rows, hasTs, vName), Seq("k"))
              record()
            }
          case r if r < 7 => // APPEND of fresh keys between upserts
            appendSlice()
          case 7 | 8 => // FOLD: materialize the masks; state unchanged
            GraftEqDelete.materializeEqDeletes(spark, TestTables.at(dir))
            record()
          case _ => // EVOLVE (flat/rowid only): rename the value column;
            // other layouts skip (their partition derivation would need
            // the old name) — upserts after the rename use the NEW name
            // against sidecars written under the OLD one
            if ((layout == Flat || layout == RowId) && vName == "v") {
              spark.sql(s"ALTER TABLE $tbl RENAME COLUMN v TO amt")
              vName = "amt"
            }
        }
        // head state must match the model after EVERY epoch
        val got = readState(tbl, None, vName)
        assert(got == model.toMap,
          s"$tbl diverged at epoch $ep (${layout.getClass.getSimpleName}): " +
            s"extra=${(got.keySet -- model.keySet).toSeq.sorted.take(5)} " +
            s"missing=${(model.keySet -- got.keySet).toSeq.sorted.take(5)} " +
            s"diff=${got.collect { case (k, v) if model.get(k).exists(_ != v) => (k, v, model(k)) }.take(5)}")
      }
      // lineage layouts: ids stayed unique through every rewrite
      if (layout == RowId) {
        val u = spark.sql(
          s"SELECT COUNT(*) AS n, COUNT(DISTINCT _row_id) AS d FROM $tbl")
          .collect()(0)
        assert(u.getLong(0) == u.getLong(1),
          s"$tbl: row ids must stay unique through the fuzzed history")
      }
      // the WHOLE history replays: every recorded snapshot is served
      // verbatim by VERSION AS OF (upserts mask, never destroy; folds
      // rewrite bytes, never content) — read with the CURRENT column
      // name (rename is a name mapping over all epochs)
      history.foreach { case (ver, snap) =>
        val got = readState(tbl, Some(ver), vName)
        assert(got == snap,
          s"$tbl: VERSION AS OF $ver diverged from the recorded snapshot " +
            s"(${snap.size} keys recorded, ${got.size} served)")
      }
      spark.sql(s"DROP TABLE $tbl")
    }
  }
}
