package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persistent graph-ANN index: graft_ann_build materializes the
  * NN-descent graph as a catalog table, graft_ann_refresh incrementally
  * indexes appended rows by beam-searching the EXISTING graph (the HNSW
  * insert shape) — build once, probe many, never rebuild on append.
  */
class AnnIndexSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_ann_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  /** 200 deterministic 4-dim vectors in 5 label blocks. */
  private def corpus = {
    import spark.implicits._
    (0L until 200L).map { i =>
      (i, i % 5, Array((i % 7).toFloat + 1f, (i % 11).toFloat,
        (i % 13).toFloat, (i % 3).toFloat))
    }.toDF("vec_id", "label", "embedding")
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft_ann", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ann.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_ann.db")
  }

  test("build persists the descent graph; probe reads the table") {
    sql("""CREATE TABLE graft_ann.db.emb (vec_id BIGINT, label BIGINT,
          |embedding ARRAY<FLOAT>) TBLPROPERTIES('history'='true')""".stripMargin)
    corpus.writeTo("graft_ann.db.emb").append()
    val receipt = sql("""SELECT * FROM graft_ann_build('graft_ann', 'db.emb',
        |'db.knn', 'vec_id', 'embedding', 'label', 3, 1)""".stripMargin).collect()(0)
    assert(receipt.getLong(0) == 200, "every corpus node must be indexed")
    val g = spark.table("graft_ann.db.knn")
    assert(g.count() == receipt.getLong(1))
    // k directed edges per node, ranked, exact cosines present
    val perNode = g.groupBy("a_id").count().agg(min("count"), max("count")).collect()(0)
    assert(perNode.getLong(0) == 3 && perNode.getLong(1) == 3)
    // the persisted edges ARE the in-plan descent output
    val twin = AnnIndex.buildEdges(spark.table("graft_ann.db.emb"),
      "vec_id", "embedding", "label", k = 3, iters = 1)
      .select(col("a_id").cast("long"), col("b_id").cast("long"),
        col("cosine").cast("double"), col("rank").cast("int"))
    assert(g.exceptAll(twin).count() == 0 && twin.exceptAll(g).count() == 0)
    // probing READS the table: beam search over the persisted edges
    val got = Similarity.graphBeamSearch(spark.table("graft_ann.db.emb"),
      corpus.where(col("vec_id") < 5), "vec_id", "embedding",
      g.select("a_id", "b_id"),
      corpus.where(col("vec_id") % 50 === 0), beamWidth = 8, rounds = 3,
      topK = 5)
    assert(got.groupBy("q_id").count().collect().forall(_.getLong(1) == 5))
  }

  test("refresh indexes appended rows incrementally, existing edges untouched") {
    sql("""CREATE TABLE graft_ann.db.emb2 (vec_id BIGINT, label BIGINT,
          |embedding ARRAY<FLOAT>) TBLPROPERTIES('history'='true')""".stripMargin)
    corpus.where(col("vec_id") < 150).writeTo("graft_ann.db.emb2").append()
    sql("""SELECT * FROM graft_ann_build('graft_ann', 'db.emb2',
        |'db.knn2', 'vec_id', 'embedding', 'label', 3, 1)""".stripMargin).collect()
    val before = spark.table("graft_ann.db.knn2").localCheckpoint(true)
    val beforeCount = before.count()
    // append 50 new rows, refresh
    corpus.where(col("vec_id") >= 150).writeTo("graft_ann.db.emb2").append()
    val r = sql("""SELECT * FROM graft_ann_refresh('graft_ann', 'db.emb2',
        |'db.knn2', 'vec_id', 'embedding', 3)""".stripMargin).collect()(0)
    assert(r.getLong(0) == 50, s"50 new nodes, got ${r.getLong(0)}")
    assert(r.getLong(1) > 0)
    val after = spark.table("graft_ann.db.knn2")
    // every existing edge survived verbatim (append-only maintenance)
    assert(before.exceptAll(after).count() == 0)
    assert(after.count() == beforeCount + r.getLong(1))
    // every new node is now indexed (forward edges) AND reachable
    // (reverse edges from previously-indexed nodes)
    val newFwd = after.where(col("a_id") >= 150)
      .select("a_id").distinct().count()
    assert(newFwd == 50, s"every new node needs forward edges, got $newFwd")
    val newRev = after.where(col("a_id") < 150 && col("b_id") >= 150).count()
    assert(newRev > 0, "new nodes must be reachable from the old graph")
    // a probe over the refreshed graph can surface new nodes
    val got = Similarity.graphBeamSearch(spark.table("graft_ann.db.emb2"),
      corpus.where(col("vec_id").isin(160L, 170L)), "vec_id", "embedding",
      after.select("a_id", "b_id"),
      corpus.where(col("vec_id") % 50 === 0 && col("vec_id") < 150),
      beamWidth = 8, rounds = 3, topK = 5)
    assert(got.groupBy("q_id").count().collect().forall(_.getLong(1) == 5))
    // idempotent: a second refresh finds nothing to do
    val r2 = sql("""SELECT * FROM graft_ann_refresh('graft_ann', 'db.emb2',
        |'db.knn2', 'vec_id', 'embedding', 3)""".stripMargin).collect()(0)
    assert(r2.getLong(0) == 0 && r2.getLong(1) == 0)
    assert(spark.table("graft_ann.db.knn2").count() == beforeCount + r.getLong(1))
  }

  /** 200 vectors in 10 CONTIGUOUS clusters of 20 (cluster = id / 20) with
    * small deterministic jitter — a corpus where near-neighbor structure
    * is real, so probe recall measures the graph, not tie-breaking luck
    * (the modular corpus above ties so heavily that even a full rebuild
    * probes at ~44% recall).
    */
  private def clustered = {
    import spark.implicits._
    (0L until 200L).map { i =>
      val c = (i / 20).toInt
      val center = Array((c % 3) * 5f, ((c / 3) % 3) * 5f,
        (c % 2) * 5f, ((c + 1) % 3) * 5f)
      val v = center.zipWithIndex.map { case (x, j) =>
        x + ((i * 13 + j * 7) % 11).toFloat * 0.01f }
      (i, c.toLong, v)
    }.toDF("vec_id", "label", "embedding")
  }

  test("optimize re-descends ONLY the refresh-touched region: untouched " +
    "edges verbatim, slots re-ranked, probe quality = full rebuild") {
    val corpus = clustered
    sql("""CREATE TABLE graft_ann.db.emb3 (vec_id BIGINT, label BIGINT,
          |embedding ARRAY<FLOAT>) TBLPROPERTIES('history'='true')""".stripMargin)
    corpus.where(col("vec_id") < 150).writeTo("graft_ann.db.emb3").append()
    sql("""SELECT * FROM graft_ann_build('graft_ann', 'db.emb3',
        |'db.knn3', 'vec_id', 'embedding', 'label', 3, 1)""".stripMargin).collect()
    corpus.where(col("vec_id") >= 150).writeTo("graft_ann.db.emb3").append()
    sql("""SELECT * FROM graft_ann_refresh('graft_ann', 'db.emb3',
        |'db.knn3', 'vec_id', 'embedding', 3)""".stripMargin).collect()
    val refreshed = spark.table("graft_ann.db.knn3").localCheckpoint(true)
    val opt = sql("""SELECT * FROM graft_ann_optimize('graft_ann', 'db.emb3',
        |'db.knn3', 'vec_id', 'embedding', 'label', 3)""".stripMargin).collect()(0)
    assert(opt.getLong(0) > 0, "the refresh appended edges to re-descend")
    assert(opt.getLong(1) < 200,
      s"the touched region must stay a strict subset of the corpus: $opt")
    val after = spark.table("graft_ann.db.knn3").localCheckpoint(true)

    // the touched region, recomputed independently: appended edge
    // endpoints plus their one-hop neighbors over the refreshed graph
    val appended = refreshed.exceptAll(
      sql("SELECT * FROM graft_ann.db.knn3 VERSION AS OF 2"))
    val touched0 = appended.select(col("a_id"))
      .unionAll(appended.select(col("b_id").as("a_id"))).distinct()
    val und = refreshed.select(col("a_id"), col("b_id"))
      .unionAll(refreshed.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    val scope = touched0.unionAll(
        und.join(touched0.withColumnRenamed("a_id", "t_id"),
          col("a_id") === col("t_id"), "left_semi")
          .select(col("b_id").as("a_id")))
      .distinct().localCheckpoint(true)
    assert(scope.count() == opt.getLong(1),
      "the TVF-reported region must be the touched+neighbors set")
    // every node OUTSIDE the region kept its edges verbatim — the job
    // replaced O(touched), not O(corpus)
    val keptBefore = refreshed.join(scope.withColumnRenamed("a_id", "s_id"),
      col("a_id") === col("s_id"), "left_anti")
    val keptAfter = after.join(scope.withColumnRenamed("a_id", "s_id"),
      col("a_id") === col("s_id"), "left_anti")
    assert(keptBefore.exceptAll(keptAfter).count() == 0 &&
      keptAfter.exceptAll(keptBefore).count() == 0,
      "untouched nodes' edges must survive optimize byte-for-byte")
    // slot cleanup: every node now holds a clean ranked top-k (the
    // refreshed graph had slot reverse edges past k on recipients)
    assert(refreshed.groupBy("a_id").count()
      .where(col("count") > 3).count() > 0,
      "precondition: refresh left over-degree recipients to clean up")
    val deg = after.groupBy("a_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("rank")).as("ranks"),
        max(col("rank")).as("maxr"))
    assert(deg.where(col("n") > 3 || col("ranks") =!= col("n") ||
      col("maxr") > col("n")).count() == 0,
      "every node must end with distinct ranks 1..deg, deg <= k")
    // probe quality: re-ranking the touched region must not lose recall
    // vs the refreshed (slot-carrying) graph, and must answer at full-
    // rebuild quality (recall vs the exact top-5; graphs are seeded
    // differently so edge sets — not quality — may differ)
    val emb3 = spark.table("graft_ann.db.emb3")
    // queries from BOTH regimes: built nodes and refresh-inserted nodes
    val q = corpus.where(col("vec_id").isin(0L, 1L, 2L, 160L, 170L))
    val entries = corpus.where(col("vec_id") % 50 === 0)
    val exact = Similarity.topKCosine(emb3, q, "vec_id", "embedding", k = 5)
      .select(col("q_id").as("e_q"), col("n_id").as("e_id"))
      .localCheckpoint(true)
    def hits(g: org.apache.spark.sql.DataFrame): Long =
      Similarity.graphBeamSearch(emb3, q, "vec_id", "embedding",
          g.select("a_id", "b_id"), entries, beamWidth = 8, rounds = 3,
          topK = 5)
        .join(exact, col("q_id") === col("e_q") && col("id") === col("e_id"),
          "left_semi").count()
    val optHits = hits(after)
    val rebuilt = AnnIndex.buildEdges(emb3, "vec_id", "embedding", "label",
      k = 3, iters = 1)
    val rebuiltHits = hits(rebuilt)
    // NOT compared against the refreshed graph: its slot edges leave
    // recipients OVER the k-degree budget, so it probes with more paths
    // than any built graph would — the fair twin is the full rebuild at
    // the same degree budget
    assert(optHits >= rebuiltHits,
      s"the optimized graph must probe at full-rebuild recall " +
        s"(opt $optHits vs rebuilt $rebuiltHits of ${5 * 5})")
    // quiet optimize: nothing appended since the new baseline -> no-op
    val opt2 = sql("""SELECT * FROM graft_ann_optimize('graft_ann', 'db.emb3',
        |'db.knn3', 'vec_id', 'embedding', 'label', 3)""".stripMargin).collect()(0)
    assert(opt2.getLong(0) == 0)
    val after2 = spark.table("graft_ann.db.knn3")
    assert(after.exceptAll(after2).count() == 0 &&
      after2.exceptAll(after).count() == 0, "a quiet optimize writes nothing")
  }

  test("optimize heals DELETES: dead ids vanish from the graph, only " +
    "bereaved nodes re-descend, probe quality = rebuild on survivors") {
    val corpus = clustered
    sql("""CREATE TABLE graft_ann.db.emb4 (vec_id BIGINT, label BIGINT,
          |embedding ARRAY<FLOAT>) TBLPROPERTIES('history'='true')""".stripMargin)
    corpus.writeTo("graft_ann.db.emb4").append()
    sql("""SELECT * FROM graft_ann_build('graft_ann', 'db.emb4',
        |'db.knn4', 'vec_id', 'embedding', 'label', 3, 1)""".stripMargin).collect()
    val before = spark.table("graft_ann.db.knn4").localCheckpoint(true)
    sql("DELETE FROM graft_ann.db.emb4 WHERE vec_id % 10 = 7")
    val opt = sql("""SELECT * FROM graft_ann_optimize('graft_ann', 'db.emb4',
        |'db.knn4', 'vec_id', 'embedding', 'label', 3)""".stripMargin).collect()(0)
    assert(opt.getLong(3) == 20, s"20 deleted vectors must report dead: $opt")
    assert(opt.getLong(1) > 0 && opt.getLong(1) < 180,
      s"the re-descent region must be the bereaved strict subset: $opt")
    val after = spark.table("graft_ann.db.knn4").localCheckpoint(true)
    // the purge-completeness contract for a derived index: NO edge row
    // carries a dead id, in either position, with its cosine
    assert(after.where(col("a_id") % 10 === 7 || col("b_id") % 10 === 7)
      .count() == 0, "dead ids must vanish from both edge positions")
    // only bereaved nodes changed: everyone who never touched a dead id
    // keeps their edges byte-for-byte
    val deadSet = spark.range(0, 200).select(col("id").as("d_id"))
      .where(col("d_id") % 10 === 7)
    val bereaved = before.join(deadSet, col("b_id") === col("d_id"), "left_semi")
      .select(col("a_id"))
      .unionAll(before.join(deadSet, col("a_id") === col("d_id"), "left_semi")
        .select(col("b_id").as("a_id")))
      .distinct().where(col("a_id") % 10 =!= 7)
      .withColumnRenamed("a_id", "s_id").localCheckpoint(true)
    val keptBefore = before
      .where(col("a_id") % 10 =!= 7 && col("b_id") % 10 =!= 7)
      .join(bereaved, col("a_id") === col("s_id"), "left_anti")
    val keptAfter = after.join(bereaved, col("a_id") === col("s_id"), "left_anti")
    assert(keptBefore.exceptAll(keptAfter).count() == 0 &&
      keptAfter.exceptAll(keptBefore).count() == 0,
      "non-bereaved nodes' edges must survive delete maintenance verbatim")
    // probe quality on the SURVIVOR corpus: the healed graph answers at
    // rebuild-on-survivors recall (same degree budget; seeds differ so
    // edge sets may differ — quality is the contract)
    val emb4 = spark.table("graft_ann.db.emb4")
    val q = corpus.where(col("vec_id").isin(0L, 1L, 21L, 41L, 61L))
    val entries = emb4.where(col("vec_id") % 50 === 0)
    val exact = Similarity.topKCosine(emb4, q, "vec_id", "embedding", k = 5)
      .select(col("q_id").as("e_q"), col("n_id").as("e_id"))
      .localCheckpoint(true)
    def hits(g: org.apache.spark.sql.DataFrame): Long =
      Similarity.graphBeamSearch(emb4, q, "vec_id", "embedding",
          g.select("a_id", "b_id"), entries, beamWidth = 8, rounds = 3,
          topK = 5)
        .join(exact, col("q_id") === col("e_q") && col("id") === col("e_id"),
          "left_semi").count()
    val healedHits = hits(after)
    val rebuilt = AnnIndex.buildEdges(emb4, "vec_id", "embedding", "label",
      k = 3, iters = 1)
    val rebuiltHits = hits(rebuilt)
    assert(healedHits >= rebuiltHits,
      s"the healed graph must probe at rebuild-on-survivors recall " +
        s"(healed $healedHits vs rebuilt $rebuiltHits of ${5 * 5})")
    // the corpus baseline advanced: a second optimize is a no-op
    val opt2 = sql("""SELECT * FROM graft_ann_optimize('graft_ann', 'db.emb4',
        |'db.knn4', 'vec_id', 'embedding', 'label', 3)""".stripMargin).collect()(0)
    assert(opt2.getLong(0) == 0 && opt2.getLong(3) == 0,
      s"nothing new to process after the heal: $opt2")
    val after2 = spark.table("graft_ann.db.knn4")
    assert(after.exceptAll(after2).count() == 0 &&
      after2.exceptAll(after).count() == 0)
  }

  test("PURGE composes: after etl_purge of a vector's subject, no row of " +
    "the knn table carries its id (vacuumed baseline -> id sweep)") {
    val corpus = clustered
    sql("""CREATE TABLE graft_ann.db.emb5 (vec_id BIGINT, label BIGINT,
          |embedding ARRAY<FLOAT>) TBLPROPERTIES('history'='true')""".stripMargin)
    corpus.writeTo("graft_ann.db.emb5").append()
    sql("""SELECT * FROM graft_ann_build('graft_ann', 'db.emb5',
        |'db.knn5', 'vec_id', 'embedding', 'label', 3, 1)""".stripMargin).collect()
    // Art. 17 erasure of subject ids 60..79 — purge vacuums to the head
    // snapshot, so the changes window is GONE and maintenance must fall
    // back to the id sweep
    val emb5 = graft.sources.GraftTable.load(spark, "graft_ann", "db.emb5")
    val purged = graft.sources.GraftMaintenance.purge(spark, "graft_ann",
      emb5, "vec_id >= 60 AND vec_id < 80")
    assert(purged == 20)
    assert(graft.sources.GraftMaintenance.purgedCompletely(spark,
      emb5, "vec_id >= 60 AND vec_id < 80"))
    val opt = sql("""SELECT * FROM graft_ann_optimize('graft_ann', 'db.emb5',
        |'db.knn5', 'vec_id', 'embedding', 'label', 3)""".stripMargin).collect()(0)
    assert(opt.getLong(3) == 20, s"the sweep must find the purged ids: $opt")
    val knn = spark.table("graft_ann.db.knn5")
    assert(knn.where((col("a_id") >= 60 && col("a_id") < 80) ||
        (col("b_id") >= 60 && col("b_id") < 80)).count() == 0,
      "no knn row may carry a purged id — the derived index must forget")
    // the graph remains navigable: every surviving node keeps a full top-k
    val deg = knn.groupBy("a_id").count()
    assert(deg.count() == 180 && deg.agg(min("count")).collect()(0).getLong(0) == 3,
      "every survivor must keep k healed edges")
  }
}
