package graft.operators

import graft.functions.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column.
  *
  * Brute force is the correctness baseline (query set broadcast against the
  * full corpus — one scan, no shuffle of the big side). The LSH variant is
  * the scale path: corpus bucketed once by random-hyperplane signature, a
  * query only probes its own bucket.
  */
object Similarity {

  /** Diagnostic: counted-dispatch fallbacks [[filteredTopK]] ran on THIS
    * thread (the stats-estimated path must plan zero count jobs —
    * gate/spec-asserted). Thread-local, not a JVM global: concurrent
    * queries in one bench/verify JVM must not read each other's counts.
    */
  val countedDispatches: ThreadLocal[Long] =
    new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  /** Exact top-k cosine neighbors for each query row. `queries` must be
    * small (it is broadcast). Output: (q_id, n_id, cosine, rank); the raw
    * IEEE cosine with id tiebreak makes the ranking deterministic (the
    * identical double arithmetic is reproducible across engines).
    */
  def topKCosine(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), Vectors.toDoubleArray(col(vecCol)).as("n_v"))
      .withColumn("n_nrm", Vectors.norm(col("n_v")))
    val q = queries.select(col(idCol).as("q_id"), Vectors.toDoubleArray(col(vecCol)).as("q_v"))
      .withColumn("q_nrm", Vectors.norm(col("q_v")))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (Vectors.dot(col("q_v"), col("n_v")) /
          (col("q_nrm") * col("n_nrm"))).as("cosine"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** FILTERED ANN — top-k under a metadata PREDICATE (the production
    * "vector search WHERE tenant = ..." shape every vector store ships).
    * Dispatch on MEASURED selectivity, the two classic regimes:
    *
    *  - SELECTIVE predicate (matches ≤ `bruteForceMax`): exact brute-force
    *    top-k over the filtered subset — one column-pruned scan of the
    *    matching rows, O(|matches|·Q). Pre-filtering beats any index once
    *    the subset is small; an over-fetched graph probe would mostly
    *    surface non-matching candidates and underfill.
    *  - BROAD predicate: graph beam search with OVER-FETCH — the beam runs
    *    at width k·`overFetch` so enough candidates survive the
    *    post-filter, then matching candidates re-rank to the top-k.
    *    Approximate like every graph probe (a query whose true neighbors
    *    all fail the predicate can underfill — the documented over-fetch
    *    trade); per-round cost Q·(k·overFetch)·degree, independent of
    *    corpus size.
    *
    * The dispatch is STATS-FIRST (round 12): pass `estimateMatches` —
    * e.g. rows/NDV from the catalog's manifest-lifted sketches
    * (GraftStats.headEqualityEstimate) — and the regime choice costs a
    * METADATA read, the way a production vector store estimates
    * selectivity from column statistics. Without an estimate the
    * fallback is one column-pruned COUNT of the predicate (still a
    * stats/partition-pruned metadata-weight scan at 100 TB); the
    * `countedDispatches` thread-local counts those fallbacks so callers
    * can ASSERT the estimated path planned zero count jobs. An estimate
    * that errs high only routes to the beam (approximate but cheap);
    * one that errs low brute-forces a bigger subset (exact but slower) —
    * either way the ANSWER contract of the chosen regime holds.
    * Output: (mode, q_id, n_id, cosine, rank) — `mode` says which regime
    * answered, so audits can tell exact from approximate rows.
    */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, graph: DataFrame, entries: DataFrame,
                   predicate: org.apache.spark.sql.Column, k: Int,
                   overFetch: Int = 4, rounds: Int = 3,
                   bruteForceMax: Long = 10000L,
                   estimateMatches: Option[Long] = None): DataFrame = {
    require(k >= 1 && overFetch >= 1, "filteredTopK: k, overFetch >= 1")
    val matching = corpus.where(predicate)
    val selective = estimateMatches match {
      case Some(est) => est <= bruteForceMax
      case None =>
        countedDispatches.set(countedDispatches.get + 1)
        matching.count() <= bruteForceMax
    }
    if (selective)
      topKCosine(matching, queries, idCol, vecCol, k)
        .select(lit("exact").as("mode"), col("q_id"), col("n_id"),
          col("cosine"), col("rank"))
    else {
      val wide = graphBeamSearch(corpus, queries, idCol, vecCol, graph,
        entries, beamWidth = k * overFetch, rounds = rounds,
        topK = k * overFetch)
      val ids = matching.select(col(idCol).as("id"))
      val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("id"))
      wide.select(col("q_id"), col("id"), col("cosine"))
        .join(ids, Seq("id"), "left_semi")
        .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
        .select(lit("beam").as("mode"), col("q_id"), col("id").as("n_id"),
          col("cosine"), col("rank"))
    }
  }

  /** Exact cosine RANGE search: every corpus neighbor with cosine ≥ tau
    * per query row (the FAISS range_search twin of [[topKCosine]]).
    * Same broadcast-query scan shape — one corpus pass, no shuffle of the
    * big side; output size is data-dependent, which is the point of a
    * threshold query.
    */
  def rangeCosine(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, tau: Double): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), Vectors.toDoubleArray(col(vecCol)).as("n_v"))
      .withColumn("n_nrm", Vectors.norm(col("n_v")))
    val q = queries.select(col(idCol).as("q_id"), Vectors.toDoubleArray(col(vecCol)).as("q_v"))
      .withColumn("q_nrm", Vectors.norm(col("q_v")))
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (Vectors.dot(col("q_v"), col("n_v")) /
          (col("q_nrm") * col("n_nrm"))).as("cosine"))
      .where(col("cosine") >= tau)
  }

  /** Exact k-NN JOIN: top-k cosine neighbors for EVERY row (not a small
    * query set), blocked by `blockCol` so candidate generation is a
    * per-block equi-join — never a global cross join. Output:
    * (a_id, b_id, cosine, rank).
    *
    * Scale shape: pair work is Σ block², bounded by the block key (shard,
    * coarse cluster, IVF list id) exactly like the blocked dedup paths;
    * the join shuffles on the block key and the final argmin window is
    * bounded per row. Swap the block key for an LSH/IVF assignment when no
    * natural key exists.
    */
  def knnJoinBlocked(df: DataFrame, idCol: String, vecCol: String,
                     blockCol: String, k: Int): DataFrame = {
    val a = df.select(col(blockCol).as("__blk"), col(idCol).as("a_id"),
      Vectors.toDoubleArray(col(vecCol)).as("a_v"))
      .withColumn("a_nrm", Vectors.norm(col("a_v")))
    val b = a.select(col("__blk"), col("a_id").as("b_id"), col("a_v").as("b_v"),
      col("a_nrm").as("b_nrm"))
    val scored = a.join(b, "__blk").where(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        (Vectors.dot(col("a_v"), col("b_v")) /
          (col("a_nrm") * col("b_nrm"))).as("cosine"))
    val w = Window.partitionBy("a_id").orderBy(col("cosine").desc, col("b_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** One NN-descent refinement iteration (Dong et al., WWW'11 — the
    * offline k-NN-graph construction loop behind HNSW-style indexes):
    * expand every node's candidate set to its neighbors' neighbors over
    * the SYMMETRIZED current graph (a near neighbor of my near neighbor
    * is probably my near neighbor), score candidates exactly, keep the
    * best k. Iterated to convergence this turns a cheap seed graph into a
    * near-exact one. The seed MUST contain cross-block links for the step
    * to improve on block-local k-NN: two-hop expansion of purely
    * within-block edges stays within the block, which is exactly why the
    * original algorithm seeds each node with RANDOM neighbors — good
    * neighbors then propagate along those long-range links step by step.
    *
    * Scale shape: candidate growth is bounded by (2k)² per node — the
    * two-hop join fans out each directed edge once per incident edge,
    * never corpus² — and both vector lookups are equi-joins on the id key
    * (bucket the corpus by id and they are exchange-free). The final
    * top-k is the bounded per-node window over ≤(2k)²+2k candidates.
    *
    * `knn`: current graph as (a_id, b_id) directed edges. Output:
    * (a_id, b_id, cosine, rank) — the refined top-k graph.
    */
  def nnDescentStep(corpus: DataFrame, idCol: String, vecCol: String,
                    knn: DataFrame, k: Int): DataFrame = {
    val und = knn.select(col("a_id"), col("b_id"))
      .unionAll(knn.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .distinct()
      .localCheckpoint(eager = true) // feeds both sides of the two-hop join
    val non = und.as("e1").join(und.as("e2"), col("e1.b_id") === col("e2.a_id"))
      .select(col("e1.a_id").as("a_id"), col("e2.b_id").as("b_id"))
      .where(col("a_id") =!= col("b_id"))
    val cands = und.unionAll(non).distinct()
    val v = corpus.select(col(idCol).as("__id"),
        Vectors.toDoubleArray(col(vecCol)).as("__v"))
      .withColumn("__nrm", Vectors.norm(col("__v")))
    val scored = cands
      .join(v.select(col("__id").as("a_id"), col("__v").as("a_v"),
        col("__nrm").as("a_nrm")), "a_id")
      .join(v.select(col("__id").as("b_id"), col("__v").as("b_v"),
        col("__nrm").as("b_nrm")), "b_id")
      .select(col("a_id"), col("b_id"),
        (Vectors.dot(col("a_v"), col("b_v")) /
          (col("a_nrm") * col("b_nrm"))).as("cosine"))
    val w = Window.partitionBy("a_id").orderBy(col("cosine").desc, col("b_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Greedy beam search over a k-NN graph (the query half of graph-ANN —
    * [[nnDescentStep]] is the build half; together they are the
    * HNSW-without-layers shape): start each query's beam at fixed entry
    * points, repeatedly expand the beam with its graph neighbors, score
    * candidates exactly, keep the best `beamWidth`, and after `rounds`
    * expansions return the top `topK`.
    *
    * Scale shape: per round, ONE equi-join of the beam (Q·beamWidth rows)
    * against the graph's adjacency (bucketed by source id → exchange-free
    * at scale) plus one bounded per-query rank — the corpus is touched
    * only through the candidate ids' vector lookups, Q·beamWidth·degree
    * rows per round, independent of corpus size. Recall grows with
    * beamWidth/rounds — the classic graph-ANN dial.
    *
    * `graph`: directed edges (a_id, b_id); symmetrized internally.
    * `entries`: the per-query starting ids (joined to every query).
    */
  def graphBeamSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, graph: DataFrame, entries: DataFrame,
                      beamWidth: Int, rounds: Int, topK: Int): DataFrame = {
    val und = graph.select(col("a_id"), col("b_id"))
      .unionAll(graph.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .distinct()
      .localCheckpoint(eager = true)
    val v = corpus.select(col(idCol).as("__id"),
        Vectors.toDoubleArray(col(vecCol)).as("__v"))
      .withColumn("__nrm", Vectors.norm(col("__v")))
      .localCheckpoint(eager = true)
    val q = queries.select(col(idCol).as("q_id"),
        Vectors.toDoubleArray(col(vecCol)).as("q_v"))
      .withColumn("q_nrm", Vectors.norm(col("q_v")))
      .localCheckpoint(eager = true)
    def score(cand: DataFrame): DataFrame =
      cand.join(v.select(col("__id").as("id"), col("__v"), col("__nrm")), "id")
        .join(broadcast(q), "q_id")
        .where(col("id") =!= col("q_id"))
        .select(col("q_id"), col("id"),
          (Vectors.dot(col("q_v"), col("__v")) /
            (col("q_nrm") * col("__nrm"))).as("cosine"))
    def top(scored: DataFrame, k: Int): DataFrame = {
      val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("id"))
      scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
    }
    var beam = top(score(q.select(col("q_id")).crossJoin(
        entries.select(col(idCol).as("id")))), beamWidth)
      .select(col("q_id"), col("id"))
      .localCheckpoint(eager = true)
    for (_ <- 1 to rounds) {
      val cand = beam
        .unionAll(beam.join(und.withColumnRenamed("a_id", "id"), "id")
          .select(col("q_id"), col("b_id").as("id")))
        .distinct()
      beam = top(score(cand), beamWidth)
        .select(col("q_id"), col("id"))
        .localCheckpoint(eager = true)
    }
    top(score(beam), topK)
  }

  /** Approximate top-k via multi-table random-hyperplane LSH: `nTables`
    * independent plane sets; a corpus row lands in one bucket per table and
    * a query probes its own bucket in each table (candidates = union across
    * tables, deduplicated). More tables → higher recall at linear cost —
    * the standard recall/cost dial. The corpus side stays un-broadcast and
    * shuffles by (table, bucket), so the plan is linear in corpus size.
    */
  def topKCosineLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, nPlanes: Int = 8,
                    dim: Int = 64, nTables: Int = 8, seed: Long = 42L): DataFrame = {
    val planes = (0 until nTables).map(t => Vectors.makePlanes(nPlanes, dim, seed + t)).toArray
    // norm before the explode (once per vector, not once per table row);
    // all table buckets come from ONE native LshBuckets expression — the
    // composed per-plane formulation costs seconds of analysis/codegen
    def withBuckets(df: DataFrame, id: String, v: String, nrm: String): DataFrame =
      df.select(col(idCol).as(id), Vectors.toDoubleArray(col(vecCol)).as(v))
        .select(col(id), col(v), Vectors.norm(col(v)).as(nrm),
          posexplode(graft.expressions.VectorExpressions.lshBuckets(col(v), planes))
            .as(Seq("tbl", "bkt")))
    val c = withBuckets(corpus, "n_id", "n_v", "n_nrm")
    val q = withBuckets(queries, "q_id", "q_v", "q_nrm")
    // score BEFORE dedup: a pair colliding in several tables costs a few
    // redundant codegen'd dot products, but the dedup shuffle then carries
    // three scalars per candidate instead of two dim-length arrays
    val scored = c.join(broadcast(q), Seq("tbl", "bkt"))
      .where(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (Vectors.dot(col("q_v"), col("n_v")) /
          (col("q_nrm") * col("n_nrm"))).as("cosine"))
      .dropDuplicates("q_id", "n_id")
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** HNSW-shaped LAYERED graph-ANN search — the layer stack
    * [[graphBeamSearch]] lacks. Nodes are promoted to upper levels by a
    * deterministic 1-in-`promote` rule on the id (level l ⇔ id divisible
    * by promote^l, capped at `maxLevel`) — the geometric level sizes of
    * HNSW's exponential assignment, made exactly replayable. Search
    * descends the stack:
    *
    *  - ENTRY: score each query against the (tiny — N/promote^maxLevel)
    *    top-level node set, keep `upperBeam`.
    *  - per upper level l = maxLevel-1 … 1: one greedy expand over the
    *    WITHIN-LEVEL graph (label-blocked top-`degree` among nodes of
    *    level ≥ l — each level's graph is Σ(block∩level)² pairs to
    *    build, geometrically cheaper per level), score exactly, keep
    *    `upperBeam` — HNSW's coarse positioning.
    *  - LEVEL 0: hand the positioned beam to the full beam search over
    *    `level0Graph` (the corpus-scale seed graph the flat queries
    *    use), `rounds` expansions at `beamWidth`, final `topK`.
    *
    * Scale: upper-level work is Q·upperBeam·degree rows per level over
    * geometrically-shrinking node sets; level-0 work is the flat beam
    * cost — the stack only ADDS a good entry, which is exactly HNSW's
    * claim. When N/promote is itself too large for blocked within-level
    * builds, raise `promote` (HNSW's M dial) so layers shrink faster.
    */
  def layeredBeamSearch(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String,
                        level0Graph: DataFrame, blockCol: String,
                        promote: Int = 8, maxLevel: Int = 3,
                        upperBeam: Int = 4, degree: Int = 3,
                        beamWidth: Int = 8, rounds: Int = 3,
                        topK: Int = 5): DataFrame = {
    require(upperBeam <= beamWidth,
      "layeredBeamSearch: upperBeam must not exceed beamWidth")
    val v = corpus.select(col(idCol).as("__id"), col(blockCol).as("__blk"),
        Vectors.toDoubleArray(col(vecCol)).as("__v"))
      .withColumn("__nrm", Vectors.norm(col("__v")))
      .localCheckpoint(eager = true)
    val q = queries.select(col(idCol).as("q_id"),
        Vectors.toDoubleArray(col(vecCol)).as("q_v"))
      .withColumn("q_nrm", Vectors.norm(col("q_v")))
      .localCheckpoint(eager = true)
    // upper-level beams may CONTAIN the query node itself (a promoted
    // query is its own best entry — HNSW's entry semantics); only the
    // final ranking excludes self
    def score(cand: DataFrame, excludeSelf: Boolean): DataFrame = {
      val joined = cand
        .join(v.select(col("__id").as("id"), col("__v"), col("__nrm")), "id")
        .join(broadcast(q), "q_id")
      (if (excludeSelf) joined.where(col("id") =!= col("q_id")) else joined)
        .select(col("q_id"), col("id"),
          (Vectors.dot(col("q_v"), col("__v")) /
            (col("q_nrm") * col("__nrm"))).as("cosine"))
    }
    def top(scored: DataFrame, k: Int): DataFrame = {
      val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("id"))
      scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
    }
    def levelNodes(l: Int): DataFrame = {
      val div = math.pow(promote.toDouble, l.toDouble).toLong
      v.where(col("__id") % div === 0)
    }
    // the within-level graphs and the level-0 adjacency depend only on
    // the corpus — NOT on the beams — so build them all concurrently
    // while the (data-dependent, inherently sequential) descent walks
    // down (guide §2.6 overlap independent jobs): same plans, same edges,
    // the builds back-fill cores the per-level beam jobs leave idle
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    def levelUnd(l: Int): DataFrame = {
      val nodes = levelNodes(l)
      val a = nodes.select(col("__id").as("a_id"), col("__blk").as("a_blk"),
        col("__v").as("a_v"), col("__nrm").as("a_nrm"))
      val b = nodes.select(col("__id").as("b_id"), col("__blk").as("b_blk"),
        col("__v").as("b_v"), col("__nrm").as("b_nrm"))
      val pairs = a.join(b, col("a_blk") === col("b_blk") &&
          col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"),
          (Vectors.dot(col("a_v"), col("b_v")) /
            (col("a_nrm") * col("b_nrm"))).as("cosine"))
      val wl = Window.partitionBy("a_id")
        .orderBy(col("cosine").desc, col("b_id"))
      val edges = pairs.withColumn("rank", row_number().over(wl))
        .where(col("rank") <= degree).select(col("a_id"), col("b_id"))
      edges.unionAll(edges.select(col("b_id").as("a_id"),
          col("a_id").as("b_id"))).distinct()
        .localCheckpoint(eager = true)
    }
    val undF: Map[Int, Future[DataFrame]] =
      ((maxLevel - 1) to 1 by -1).map(l => l -> Future(levelUnd(l))).toMap
    val und0F = Future(level0Graph.select(col("a_id"), col("b_id"))
      .unionAll(level0Graph.select(col("b_id").as("a_id"),
        col("a_id").as("b_id")))
      .distinct()
      .localCheckpoint(eager = true))
    try {
      // entry: exact over the top level's node set
      var beam = top(score(q.select(col("q_id")).crossJoin(
          levelNodes(maxLevel).select(col("__id").as("id"))),
          excludeSelf = false), upperBeam)
        .select(col("q_id"), col("id"))
        .localCheckpoint(eager = true)
      // greedy descent through the upper levels' within-level graphs
      for (l <- (maxLevel - 1) to 1 by -1) {
        val und = Await.result(undF(l), Duration.Inf)
        val cand = beam.unionAll(
            beam.join(und.withColumnRenamed("a_id", "id"), "id")
              .select(col("q_id"), col("b_id").as("id")))
          .distinct()
        beam = top(score(cand, excludeSelf = false), upperBeam)
          .select(col("q_id"), col("id"))
          .localCheckpoint(eager = true)
      }
      // level 0: the flat beam search, entered from the positioned beam.
      // No re-rank stage first: upperBeam <= beamWidth, so the entry beam
      // IS the round-0 beam — re-scoring it would keep the same set at the
      // cost of an extra checkpointed job
      val und0 = Await.result(und0F, Duration.Inf)
      var beam0 = beam
      for (_ <- 1 to rounds) {
        val cand = beam0.unionAll(
            beam0.join(und0.withColumnRenamed("a_id", "id"), "id")
              .select(col("q_id"), col("b_id").as("id")))
          .distinct()
        beam0 = top(score(cand, excludeSelf = false), beamWidth)
          .select(col("q_id"), col("id"))
          .localCheckpoint(eager = true)
      }
      top(score(beam0, excludeSelf = true), topK)
    } finally {
      // a failed descent leaves level-graph builds running: wait them out,
      // so no background job outlives the call and their checkpoint blocks
      // become unreachable (a successful descent has awaited them all)
      (undF.values ++ Seq(und0F)).foreach(Await.ready(_, Duration.Inf))
    }
  }
}
