package graft.queries

import graft.Tables
import graft.multimodal.Media
import graft.operators.{IvfIndex, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search (SURVEY §2.E) + multimodal columns (§2.F). */
object SimilarityQueries {

  /** Shared seed graph for the graph-ANN trio (sim_nn_descent,
    * sim_graph_search, sim_graph_recall): label-blocked top-3 UNION three
    * deterministic pseudo-random links per node ((a·131 + t·9973) mod N —
    * vec_ids are contiguous; the md5-as-randomness rule in arithmetic
    * form). Hoisted so the recall audit provably measures the SAME graph
    * the search query walks — and so the oracle-side graphSearchCtes stays
    * the single SQL twin of a single Scala definition.
    */
  private def seedGraph(emb: DataFrame): DataFrame = {
    val blocked = Similarity.knnJoinBlocked(emb, "vec_id", "embedding",
        blockCol = "label", k = 3)
      .select(col("a_id"), col("b_id"))
    val n = emb.agg(count(lit(1)).as("__n"))
    val rand = emb.select(col("vec_id").as("a_id")).crossJoin(broadcast(n))
      .select(col("a_id"), explode(array((1 to 3).map(t =>
        (col("a_id") * 131 + lit(t * 9973)) % col("__n")): _*)).as("b_id"))
      .where(col("b_id") =!= col("a_id"))
    blocked.unionAll(rand)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk_cosine" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.topKCosine(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy("q_id", "rank")
    },

    // hybrid retrieval with reciprocal-rank fusion (the RAG/retrieval
    // staple): a lexical leg (distinct-token overlap on the documents
    // table) and a vector leg (exact cosine on the aligned embeddings)
    // each rank top-20 per query, then RRF 1/(60+r) fuses the lists so a
    // doc strong in EITHER modality surfaces. Queries are few by
    // construction (broadcast); each leg's rank is a window over
    // |queries| partitions; the fusion terms are exact IEEE divisions
    // summed in pinned order, so the oracle hash-matches
    "sim_rrf_fusion" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val vec = Similarity.topKCosine(emb, emb.where(col("vec_id") < 8),
          "vec_id", "embedding", k = 20)
        .select(col("q_id"), col("n_id"), col("rank").as("v_rank"))
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          array_distinct(graft.functions.Text.tokens(col("text"))).as("toks"))
      val qd = docs.where(col("doc_id") < 8)
        .select(col("doc_id").as("q_id"), col("toks").as("q_toks"))
      val wl = Window.partitionBy("q_id").orderBy(col("ovl").desc, col("n_id"))
      val lex = docs.join(broadcast(qd), col("doc_id") =!= col("q_id"))
        .select(col("q_id"), col("doc_id").as("n_id"),
          size(array_intersect(col("toks"), col("q_toks"))).as("ovl"))
        .withColumn("l_rank", row_number().over(wl)).where(col("l_rank") <= 20)
        .select(col("q_id"), col("n_id"), col("l_rank"))
      val fused = vec.join(lex, Seq("q_id", "n_id"), "full_outer")
        .select(col("q_id"), col("n_id"),
          (coalesce(lit(1.0) / (lit(60) + col("v_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("l_rank")), lit(0.0))).as("rrf"))
      val wf = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("n_id"))
      fused.withColumn("rank", row_number().over(wf)).where(col("rank") <= 10)
        .orderBy("q_id", "rank")
    },

    // threshold (range) search — the FAISS range_search twin of top-k
    "sim_range_search" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.rangeCosine(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        tau = 0.3)
        .orderBy("q_id", "n_id")
    },

    // value-oracled since round 4: the deterministic plane matrices are
    // inlined into the oracle SQL; recall vs the brute-force twin is
    // additionally asserted in SimilaritySpec.
    "sim_ann_lsh" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.topKCosineLsh(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nPlanes = 6, dim = 64)
        .orderBy("q_id", "rank")
    },

    // IVF inverted-list assignment; both the index-build pass AND the
    // probe path (sim_ann_ivf) carry full value oracles — assignment,
    // probing and ranking replayed as SQL window queries.
    "sim_ivf_assign" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      IvfIndex.assign(emb, IvfIndex.centroids(emb, "vec_id", "embedding", 32),
        "vec_id", "embedding")
        .select(col("id"), col("c_id"), col("cosine"))
        .orderBy("id")
    },

    "sim_ann_ivf" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      IvfIndex.topKCosineIvf(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, stride = 32, nProbe = 8)
        .orderBy("q_id", "rank")
    },

    // PQ-compression quality audit: recall@5 of the ADC search (corpus
    // seen only through its m-byte codes) against the exact-L2 scan over
    // the raw vectors — quantifies what the 64→8-byte compression costs,
    // per query. Both engines compute the identical IEEE d² formula; the
    // 10-query window is bounded by the query set, never the corpus
    "sim_pq_recall" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      val V = graft.functions.Vectors
      val c = emb.select(col("vec_id").as("n_id"), V.toDoubleArray(col("embedding")).as("nv"))
      val qq = q.select(col("vec_id").as("q_id"), V.toDoubleArray(col("embedding")).as("qv"))
      val w = Window.partitionBy("q_id").orderBy(col("d2").asc, col("n_id"))
      val exact = c.join(broadcast(qq), col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          (V.dot(col("qv"), col("qv")) - lit(2.0) * V.dot(col("qv"), col("nv"))
            + V.dot(col("nv"), col("nv"))).as("d2"))
        .withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
        .select(col("q_id"), col("n_id"))
      val approx = IvfIndex.pqSearchAdc(emb, q, "vec_id", "embedding",
          m = 8, dim = 64, stride = 32, topK = 5)
        .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
      exact.join(approx,
          col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("a_n")).as("n_hit"))
        .select(col("q_id"), col("n_hit"),
          (col("n_hit").cast("double") / lit(5.0)).as("recall"))
        .orderBy("q_id")
    },

    // threshold-sensitivity sweep: near-dup pair counts at five taus from
    // ONE pair materialization (score once at the loosest threshold, then
    // conditional-count) — the tuning query run before committing a dedup
    // threshold, instead of re-running the pair join per candidate tau
    "sim_tau_sweep" -> { (s, dir) =>
      val pairs = graft.operators.Dedup.embeddingPairsBlocked(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label", tau = 0.25)
      val taus = Seq(0.25, 0.30, 0.35, 0.40, 0.45)
      pairs.select(col("cosine"),
          explode(array(taus.map(lit(_)): _*)).as("tau"))
        .where(col("cosine") >= col("tau"))
        .groupBy(col("tau")).agg(count(lit(1)).as("n_pairs"))
        .orderBy("tau")
    },

    // recall@10 audit of the IVF index against the exact scan — the
    // "measure, don't guess" companion to sim_ann_ivf. nProbe=4 is
    // deliberately below sim_ann_ivf's 8 so the probe set misses some true
    // neighbors and the metric is informative, not vacuously 1.0. At
    // 100 TB this runs on a sampled query set; both sides reuse the
    // broadcast-query / two-stage-top-k plans of their parent operators.
    "sim_recall_audit" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      val exact = Similarity.topKCosine(emb, q, "vec_id", "embedding", k = 10)
        .select(col("q_id"), col("n_id"))
      val approx = IvfIndex.topKCosineIvf(emb, q, "vec_id", "embedding",
          k = 10, stride = 32, nProbe = 4)
        .select(col("q_id").as("i_q"), col("n_id").as("i_n"))
      exact.join(approx,
          col("q_id") === col("i_q") && col("n_id") === col("i_n"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("i_n")).as("n_hit"))
        .select(col("q_id"), col("n_hit"),
          (col("n_hit").cast("double") / lit(10.0)).as("recall"))
        .orderBy("q_id")
    },

    // per-vector min-max int8-style scalar quantization, emitted in
    // exploded (vec_id, pos, q) form so every quantized value is checked.
    // floor (not round): round() half-way behavior differs across engines.
    "sim_quantize" -> { (s, dir) =>
      // sort-first on vec_id BEFORE the explode: a final ORDER BY's
      // sampling pass would re-run explode+quantize over every row
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          graft.functions.Vectors.toDoubleArray(col("embedding")).as("v"))
        .orderBy("vec_id")
        .select(col("vec_id"), array_min(col("v")).as("mn"),
          array_max(col("v")).as("mx"), posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("pos"),
          when(col("mx") === col("mn"), lit(0))
            .otherwise(floor((col("x") - col("mn")) / (col("mx") - col("mn")) * 255))
            .cast("int").as("q"))
      // no trailing orderBy: posexplode emits pos ascending within each
      // vec_id, so the inner vec_id sort already yields (vec_id, pos)
      // order — and a trailing sort makes EliminateSorts drop the inner
      // one, pushing explode+quantize onto the unsorted single-core scan
    },

    // product-quantization encode: 8 subspaces × 16 stride-sampled codes;
    // every (vector, subspace) argmin is value-checked, so the whole
    // IVF-PQ compression path (centroids + codes) has exact oracles
    "sim_pq_encode" -> { (s, dir) =>
      IvfIndex.pqEncode(Tables.embeddings(s, dir), "vec_id", "embedding",
        m = 8, dim = 64, stride = 32)
        .orderBy("id", "sub_id")
    },

    // IVF-PQ: the two prunings composed (FAISS IVFx,PQy — the actual
    // 100 TB index shape): IVF probing bounds WHICH rows are scored,
    // PQ/ADC bounds WHAT is read per row (m-byte codes, never raw
    // vectors). Probe-restricted candidates, broadcast LUT, fixed-order
    // pivot sum, two-stage top-k — fully replayed in the oracle
    "sim_ivfpq_search" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      IvfIndex.ivfPqSearch(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        m = 8, dim = 64, stride = 32, nProbe = 8, topK = 5)
        .orderBy("q_id", "rank")
    },

    // ADC search over the PQ codes — the query path of the compression
    // story: corpus touched only through its m-byte codes, per-query
    // (sub, code) → d² lookup table broadcast, two-stage top-k (no
    // per-query single-task candidate funnel). Every ranked distance is
    // value-checked against the oracle's replay of encode + LUT + ranking
    "sim_pq_search" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      IvfIndex.pqSearchAdc(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        m = 8, dim = 64, stride = 32, topK = 5)
        .orderBy("q_id", "rank")
    },

    // one NN-descent iteration (Dong et al. WWW'11): the seed graph is
    // the label-blocked top-3 UNION three deterministic pseudo-random
    // links per node ((a·131 + t·9973) mod N — vec_ids are contiguous;
    // the md5-as-randomness rule in arithmetic form). The random links
    // matter: two-hop expansion of purely within-block edges can never
    // leave the block, which is why the original algorithm seeds each
    // node randomly — candidates expand to neighbors-of-neighbors over
    // the symmetrized graph ((2k)² per node, never corpus²), score
    // exactly, keep top-3. Iterated, this builds a near-exact k-NN graph
    // over a 100 TB corpus from any cheap seed
    "sim_nn_descent" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.nnDescentStep(emb, "vec_id", "embedding",
          seedGraph(emb), k = 3)
        .orderBy("a_id", "rank")
    },

    // beam search over the k-NN graph (the query half of graph-ANN;
    // sim_nn_descent is the build half — HNSW without the layer stack):
    // fixed entry points (vec_id % 100 — the coarse entry tier), 3 rounds
    // of expand-with-neighbors → exact-score → keep-8, final top-5. The
    // graph is the same blocked ∪ pseudo-random seed as sim_nn_descent,
    // so the walk can actually reach across blocks. Per-round work is
    // Q·beam·degree — independent of corpus size
    "sim_graph_search" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.graphBeamSearch(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", seedGraph(emb),
          emb.where(col("vec_id") % 100 === 0), beamWidth = 8, rounds = 3,
          topK = 5)
        .select(col("q_id"), col("id").as("n_id"), col("cosine"), col("rank"))
        .orderBy("q_id", "rank")
    },

    // FILTERED ANN (round 11; round 12 makes the dispatch STATS-FIRST):
    // "vector search WHERE ..." — the regime choice every production
    // vector store makes, now costed as a METADATA read: the label
    // predicate's selectivity (~N/10 rows, under the N/5 budget) comes
    // off the manifest stats log as rows/NDV (headEqualityEstimate) and
    // brute-forces the filtered subset EXACTLY with ZERO count jobs
    // (thread-local probe-counter asserted); the parity predicate is not
    // an equality on a stats column, so it takes the counted FALLBACK
    // (counter-asserted too) and beam-searches with 4× over-fetch +
    // post-filter. The brute-force budget itself is the stats row count
    // — the whole selective dispatch never touches data. Ratio-stable
    // thresholds keep the dispatch identical at every scale; the oracle
    // replays BOTH regimes: exact subset top-k, and the 20-wide beam →
    // parity filter → re-rank.
    "sim_ann_filtered" -> { (s, dir) =>
      graft.GraftExtensions.register(s)
      val wh = Etl.scratch(s, "wh")
      s.conf.set("spark.sql.catalog.graft_af", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_af.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_af.db")
      s.sql("DROP TABLE IF EXISTS graft_af.db.emb")
      s.sql("""CREATE TABLE graft_af.db.emb (vec_id BIGINT, label BIGINT,
              |embedding ARRAY<FLOAT>)
              |TBLPROPERTIES('history'='true')""".stripMargin)
      Tables.embeddings(s, dir)
        .select(col("vec_id").cast("long"), col("label").cast("long"),
          col("embedding"))
        .writeTo("graft_af.db.emb").append()
      val emb = s.table("graft_af.db.emb")
      val q = emb.where(col("vec_id") < 10)
      val g = seedGraph(emb)
      val entries = emb.where(col("vec_id") % 100 === 0)
      val tdir = new org.apache.hadoop.fs.Path(s"$wh/db/emb")
      val tfs = tdir.getFileSystem(s.sessionState.newHadoopConf())
      val (rowsEst, perLabel) = graft.sources.GraftStats
        .headEqualityEstimate(tfs, tdir, "label")
        .getOrElse(throw new IllegalStateException(
          "sim_ann_filtered: the manifest stats must serve a label NDV"))
      val bfMax = rowsEst / 5
      // RANGE phase (round 13): `vec_id < N/10` is costed off the merged
      // KLL quantile sketches (headRangeEstimate — rank(hi) - rank(lo),
      // ±~1.65% rank error), again with ZERO count jobs; ~10% of the
      // corpus is under the 20% brute-force budget, so the dispatch
      // routes exact
      val cut = rowsEst / 10
      val (_, rangeEst) = graft.sources.GraftStats
        .headRangeEstimate(tfs, tdir, "vec_id", None,
          Some((cut.toDouble, false)))
        .getOrElse(throw new IllegalStateException(
          "sim_ann_filtered: the manifest stats must serve a vec_id " +
            "quantile sketch"))
      // the three dispatch phases are INDEPENDENT job chains: run each on
      // its own driver thread (guide §2.6) and materialize its (tiny)
      // answer once, so the mode/post-filter asserts and the final union
      // read the checkpoint instead of re-executing the pipeline. The
      // counted-dispatch assertion moves to a per-thread DELTA of the
      // thread-local counter — the same zero-count-jobs proof, measured
      // on the thread that ran the dispatch.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      def phase(pred: org.apache.spark.sql.Column, est: Option[Long]) =
        Future {
          val c = Similarity.countedDispatches.get
          val df = Similarity.filteredTopK(emb, q, "vec_id", "embedding",
            g, entries, pred, k = 5, overFetch = 4, rounds = 3,
            bruteForceMax = bfMax, estimateMatches = est)
            .localCheckpoint(eager = true)
          (df, Similarity.countedDispatches.get - c)
        }
      val selectiveF = phase(col("label") === 3, Some(perLabel))
      val broadF = phase(col("vec_id") % 2 === 0, None)
      val rangedF = phase(col("vec_id") < cut, Some(rangeEst))
      val (selective, selCounts) = Await.result(selectiveF, Duration.Inf)
      val (broad, broadCounts) = Await.result(broadF, Duration.Inf)
      val (ranged, rangedCounts) = Await.result(rangedF, Duration.Inf)
      require(selCounts == 0,
        "sim_ann_filtered: the stats-estimated dispatch must plan ZERO " +
          "count jobs")
      require(broadCounts == 1,
        "sim_ann_filtered: a predicate without an estimate must take " +
          "the counted fallback, exactly once")
      require(rangedCounts == 0,
        "sim_ann_filtered: the KLL-estimated range dispatch must plan " +
          "ZERO count jobs")
      val modes = (selective.select("mode")
        .unionAll(broad.select("mode"))).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      require(modes == Seq("beam", "exact"),
        s"sim_ann_filtered: the selectivity dispatch must route the " +
          s"label predicate exact and the parity predicate to the beam, " +
          s"got $modes")
      require(ranged.select("mode").distinct().collect()
          .map(_.getString(0)).toSeq == Seq("exact"),
        "sim_ann_filtered: the ~10% range subset must brute-force exact")
      // every broad answer must satisfy the predicate (post-filter proof)
      require(broad.where(col("n_id") % 2 =!= 0).count() == 0,
        "sim_ann_filtered: a beam answer escaped the predicate")
      selective.select(lit("eq").as("phase"), col("mode"), col("q_id"),
          col("n_id"), col("cosine"), col("rank"))
        .unionAll(broad.select(lit("parity").as("phase"), col("mode"),
          col("q_id"), col("n_id"), col("cosine"), col("rank")))
        .unionAll(ranged.select(lit("range").as("phase"), col("mode"),
          col("q_id"), col("n_id"), col("cosine"), col("rank")))
        .orderBy("phase", "q_id", "rank")
    },

    // PERSISTENT GRAPH-ANN (round 10): graft_ann_build materializes the
    // NN-descent k-NN graph as a CATALOG history table — build once,
    // probe many — and the search half READS it instead of rebuilding the
    // graph inside every query plan (the structural gap the in-plan
    // sim_graph_search/sim_nn_descent pair left). Asserted in-query: the
    // probe over the PERSISTED graph row-matches the in-plan twin both
    // ways (the persisted table IS the descent output, bit-for-bit). The
    // oracle replays seed → one descent step → beam search in SQL.
    "sim_ann_persist" -> { (s, dir) =>
      graft.GraftExtensions.register(s)
      val wh = Etl.scratch(s, "wh")
      s.conf.set("spark.sql.catalog.graft_ap", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_ap.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ap.db")
      s.sql("DROP TABLE IF EXISTS graft_ap.db.emb")
      s.sql("""CREATE TABLE graft_ap.db.emb (vec_id BIGINT, label BIGINT,
              |embedding ARRAY<FLOAT>)
              |TBLPROPERTIES('history'='true')""".stripMargin)
      Tables.embeddings(s, dir)
        .select(col("vec_id").cast("long"), col("label").cast("long"),
          col("embedding"))
        .writeTo("graft_ap.db.emb").append()
      s.sql("""SELECT * FROM graft_ann_build('graft_ap', 'db.emb', 'db.knn',
              |'vec_id', 'embedding', 'label', 3, 1)""".stripMargin).collect()
      val corpus = s.table("graft_ap.db.emb")
      val q = corpus.where(col("vec_id") < 10)
      val entries = corpus.where(col("vec_id") % 100 === 0)
      def probe(graph: org.apache.spark.sql.DataFrame) =
        Similarity.graphBeamSearch(corpus, q, "vec_id", "embedding",
          graph.select(col("a_id"), col("b_id")), entries,
          beamWidth = 8, rounds = 3, topK = 5)
      // the persisted-graph probe and the twin rebuild+probe are
      // INDEPENDENT job chains (guide §2.6 overlap independent jobs):
      // run them from two driver threads so the second chain's jobs
      // back-fill executors the first one leaves idle — same plans, same
      // results, about half the sequential wall-clock
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val persistedF = Future(probe(s.table("graft_ap.db.knn"))
        .localCheckpoint(eager = true))
      val twinF = Future(probe(graft.operators.AnnIndex.buildEdges(
          corpus, "vec_id", "embedding", "label", k = 3, iters = 1))
        .localCheckpoint(eager = true))
      val persisted = Await.result(persistedF, Duration.Inf)
      val twin = Await.result(twinF, Duration.Inf)
      val diffAF = Future(persisted.exceptAll(twin).count())
      val diffB = twin.exceptAll(persisted).count()
      require(Await.result(diffAF, Duration.Inf) == 0 && diffB == 0,
        "sim_ann_persist: the probe over the PERSISTED graph must match " +
          "the in-plan twin exactly")
      persisted
        .select(col("q_id"), col("id").as("n_id"), col("cosine"), col("rank"))
        .orderBy("q_id", "rank")
    },

    // BOUNDED RE-DESCENT (round 11): graft_ann_optimize is the compaction
    // verb for refresh-accumulated graphs — build over 3/4 of the corpus,
    // refresh-insert the rest (beam placement leaves approximate
    // neighborhoods + slot-valued reverse edges past the k-degree
    // budget), then optimize re-seeds and re-descends ONLY the touched
    // region (changes-feed-bounded read; untouched nodes keep their edges
    // verbatim) and re-ranks every region node to a clean top-k. Asserted
    // in-query: the touched region is a strict subset of the corpus, and
    // every node ends with distinct ranks 1..deg ≤ k. The oracle replays
    // the WHOLE pipeline in SQL — build(base) → beam placement →
    // re-seeded region descent → final beam probe — so the optimized
    // graph's bytes (not just its shape) are value-checked.
    "sim_ann_optimize" -> { (s, dir) =>
      graft.GraftExtensions.register(s)
      val wh = Etl.scratch(s, "wh")
      s.conf.set("spark.sql.catalog.graft_ao", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_ao.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ao.db")
      s.sql("DROP TABLE IF EXISTS graft_ao.db.emb")
      s.sql("DROP TABLE IF EXISTS graft_ao.db.knn")
      s.sql("""CREATE TABLE graft_ao.db.emb (vec_id BIGINT, label BIGINT,
              |embedding ARRAY<FLOAT>)
              |TBLPROPERTIES('history'='true')""".stripMargin)
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").cast("long"), col("label").cast("long"),
          col("embedding"))
      emb.where(col("vec_id") % 4 =!= 3).writeTo("graft_ao.db.emb").append()
      s.sql("""SELECT * FROM graft_ann_build('graft_ao', 'db.emb', 'db.knn',
              |'vec_id', 'embedding', 'label', 3, 1)""".stripMargin).collect()
      emb.where(col("vec_id") % 4 === 3).writeTo("graft_ao.db.emb").append()
      s.sql("""SELECT * FROM graft_ann_refresh('graft_ao', 'db.emb',
              |'db.knn', 'vec_id', 'embedding', 3)""".stripMargin).collect()
      val r = s.sql("""SELECT * FROM graft_ann_optimize('graft_ao', 'db.emb',
              |'db.knn', 'vec_id', 'embedding', 'label', 3)""".stripMargin)
        .collect()(0)
      val n = s.table("graft_ao.db.emb").count()
      val g = s.table("graft_ao.db.knn")
      val dirty = g.groupBy("a_id")
        .agg(count(lit(1)).as("deg"), countDistinct(col("rank")).as("ranks"),
          max(col("rank")).as("maxr"))
        .where(col("deg") > 3 || col("ranks") =!= col("deg") ||
          col("maxr") > col("deg")).count()
      require(r.getLong(0) > 0 && r.getLong(1) > 0 && r.getLong(1) < n,
        s"sim_ann_optimize: the touched region must be a non-empty strict " +
          s"subset of the $n-node corpus, got $r")
      require(dirty == 0,
        s"sim_ann_optimize: $dirty nodes kept slot ranks / over-degree " +
          "edges — optimize must leave a clean ranked top-k everywhere")
      val corpus = s.table("graft_ao.db.emb")
      Similarity.graphBeamSearch(corpus, corpus.where(col("vec_id") < 10),
          "vec_id", "embedding", g.select(col("a_id"), col("b_id")),
          corpus.where(col("vec_id") % 100 === 0), beamWidth = 8,
          rounds = 3, topK = 5)
        .select(col("q_id"), col("id").as("n_id"), col("cosine"), col("rank"))
        .orderBy("q_id", "rank")
    },

    // DELETE-AWARE ANN MAINTENANCE (round 13; the composition gap the
    // persisted graph index had): corpus rows DELETED after the build
    // left dangling edge rows in the knn table forever — results stayed
    // correct (the probe's score join drops dead candidates) but
    // navigability decayed and purged ids lingered with their cosines.
    // graft_ann_optimize now reads the CORPUS changes feed after its
    // ann.corpus.version baseline (O(changed); post-purge vacuum: a
    // sound id sweep), drops every edge touching a dead id in BOTH
    // positions, and re-descends exactly the BEREAVED nodes — each
    // live node that lost a neighbor — so their top-k heals. Asserted
    // in-query: zero dead ids anywhere in the healed graph, the
    // re-descent region is the bereaved strict subset, every node ends
    // with a clean ranked top-k. The oracle replays build → delete →
    // heal → probe in SQL, value-checking the healed graph's bytes.
    "sim_ann_delete" -> { (s, dir) =>
      graft.GraftExtensions.register(s)
      val wh = Etl.scratch(s, "wh")
      s.conf.set("spark.sql.catalog.graft_ad", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_ad.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ad.db")
      s.sql("DROP TABLE IF EXISTS graft_ad.db.emb")
      s.sql("DROP TABLE IF EXISTS graft_ad.db.knn")
      s.sql("""CREATE TABLE graft_ad.db.emb (vec_id BIGINT, label BIGINT,
              |embedding ARRAY<FLOAT>)
              |TBLPROPERTIES('history'='true')""".stripMargin)
      Tables.embeddings(s, dir)
        .select(col("vec_id").cast("long"), col("label").cast("long"),
          col("embedding"))
        .writeTo("graft_ad.db.emb").append()
      s.sql("""SELECT * FROM graft_ann_build('graft_ad', 'db.emb', 'db.knn',
              |'vec_id', 'embedding', 'label', 3, 1)""".stripMargin).collect()
      s.sql("DELETE FROM graft_ad.db.emb WHERE vec_id % 10 = 7")
      val r = s.sql("""SELECT * FROM graft_ann_optimize('graft_ad', 'db.emb',
              |'db.knn', 'vec_id', 'embedding', 'label', 3)""".stripMargin)
        .collect()(0)
      val n = s.table("graft_ad.db.emb").count()
      val g = s.table("graft_ad.db.knn")
      val deadEdges =
        g.where(col("a_id") % 10 === 7 || col("b_id") % 10 === 7).count()
      val dirty = g.groupBy("a_id")
        .agg(count(lit(1)).as("deg"), countDistinct(col("rank")).as("ranks"),
          max(col("rank")).as("maxr"))
        .where(col("deg") > 3 || col("ranks") =!= col("deg") ||
          col("maxr") > col("deg")).count()
      require(r.getLong(0) == 0 && r.getLong(3) > 0,
        s"sim_ann_delete: no appends, only deletes to heal, got $r")
      require(r.getLong(1) > 0 && r.getLong(1) < n,
        s"sim_ann_delete: the bereaved region must be a non-empty strict " +
          s"subset of the $n survivors, got $r")
      require(deadEdges == 0,
        "sim_ann_delete: dead ids must vanish from both edge positions")
      require(dirty == 0,
        s"sim_ann_delete: $dirty healed nodes kept slot ranks / " +
          "over-degree edges")
      val corpus = s.table("graft_ad.db.emb")
      Similarity.graphBeamSearch(corpus, corpus.where(col("vec_id") < 10),
          "vec_id", "embedding", g.select(col("a_id"), col("b_id")),
          corpus.where(col("vec_id") % 100 === 0), beamWidth = 8,
          rounds = 3, topK = 5)
        .select(col("q_id"), col("id").as("n_id"), col("cosine"), col("rank"))
        .orderBy("q_id", "rank")
    },

    // HNSW-shaped LAYERED search — the layer stack sim_graph_search lacks:
    // deterministic 1-in-8 promotion (level l ⇔ id % 8^l = 0, HNSW's
    // geometric layer sizes made replayable), exact entry over the tiny
    // top layer, greedy descent through label-blocked within-level
    // graphs, then the flat level-0 beam over the corpus seed graph. The
    // oracle replays every layer and round in SQL
    "sim_hnsw_search" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.layeredBeamSearch(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", seedGraph(emb), blockCol = "label")
        .select(col("q_id"), col("id").as("n_id"), col("cosine"), col("rank"))
        .orderBy("q_id", "rank")
    },

    // recall@5 of the layered search vs the exact scan — extends the
    // measure-don't-guess audit family (IVF, PQ, flat graph) to the
    // layered structure
    "sim_hnsw_recall" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      val got = Similarity.layeredBeamSearch(emb, q, "vec_id", "embedding",
          seedGraph(emb), blockCol = "label")
        .select(col("q_id").as("g_q"), col("id").as("g_id"))
      val exact = Similarity.topKCosine(emb, q, "vec_id", "embedding", k = 5)
        .select(col("q_id"), col("n_id"))
      exact.join(got,
          col("q_id") === col("g_q") && col("n_id") === col("g_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("g_id")).as("n_hit"))
        .select(col("q_id"), col("n_hit"),
          (col("n_hit").cast("double") / lit(5.0)).as("recall"))
        .orderBy("q_id")
    },

    // the SQL front door under the value gate: the same engine surface a
    // SQL-only user gets — GraftExtensions-registered vec_cosine (the
    // native codegen'd DotProduct expression, not a UDF) over temp views,
    // the whole query authored as spark.sql text. Proves the extension
    // wiring end-to-end where the specs only prove it in isolation
    "sim_sql_surface" -> { (s, dir) =>
      graft.GraftExtensions.register(s)
      Tables.embeddings(s, dir).createOrReplaceTempView("graft_emb_sql")
      s.sql("""
        SELECT a.vec_id AS q_id, b.vec_id AS n_id,
               vec_cosine(CAST(a.embedding AS ARRAY<DOUBLE>),
                          CAST(b.embedding AS ARRAY<DOUBLE>)) AS cosine
        FROM graft_emb_sql a JOIN graft_emb_sql b
          ON a.label = b.label AND a.vec_id != b.vec_id
        WHERE a.vec_id < 5
        ORDER BY q_id, n_id""")
    },

    // recall@5 of the graph beam search vs the exact scan — completes the
    // measure-don't-guess audit trio (sim_recall_audit: IVF,
    // sim_pq_recall: PQ, this: graph-ANN); beam 8 over 3 rounds is
    // deliberately modest so the metric is informative, not vacuously 1.0
    "sim_graph_recall" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      val got = Similarity.graphBeamSearch(emb, q, "vec_id", "embedding",
          seedGraph(emb), emb.where(col("vec_id") % 100 === 0),
          beamWidth = 8, rounds = 3, topK = 5)
        .select(col("q_id").as("g_q"), col("id").as("g_id"))
      val exact = Similarity.topKCosine(emb, q, "vec_id", "embedding", k = 5)
        .select(col("q_id"), col("n_id"))
      exact.join(got,
          col("q_id") === col("g_q") && col("n_id") === col("g_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("g_id")).as("n_hit"))
        .select(col("q_id"), col("n_hit"),
          (col("n_hit").cast("double") / lit(5.0)).as("recall"))
        .orderBy("q_id")
    },

    // exact k-NN JOIN (top-3 neighbors for EVERY vector, not a query set),
    // label-blocked so the pair space is Σ block² — the all-pairs
    // retrieval shape used for corpus-level embedding dedup/clustering
    "sim_knn_join" -> { (s, dir) =>
      Similarity.knnJoinBlocked(Tables.embeddings(s, dir), "vec_id", "embedding",
        blockCol = "label", k = 3)
        .orderBy("a_id", "rank")
    },

    "mm_meta" -> { (s, dir) =>
      Media.asMedia(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id"), col("mimeType").as("mime_type"),
          length(col("payload")).as("byte_len"), md5(col("payload")).as("content_hash"))
        .orderBy("id")
    },

    // exact dedup on the binary payload (content-hash groupBy — the
    // image/audio dedup shape: identical bytes collapse regardless of
    // filename/metadata); keeps min id per content group like dd_exact
    "mm_dedup" -> { (s, dir) =>
      Media.asMedia(Tables.documents(s, dir), "doc_id", "text")
        .groupBy(md5(col("payload")).as("content_hash"))
        .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("content_hash")
    },

    "mm_features" -> { (s, dir) =>
      Media.extractFeatures(Media.asMedia(Tables.documents(s, dir), "doc_id", "text"))
        .toDF()
        .orderBy("id")
    },

    "mm_framesample" -> { (s, dir) =>
      Media.sampleFrames(Media.asMedia(Tables.documents(s, dir), "doc_id", "text"),
        step = 2)
        .toDF()
        .orderBy("id", "frameIdx")
    },

    "mm_resize" -> { (s, dir) =>
      Media.resize(Media.asMedia(Tables.documents(s, dir), "doc_id", "text"),
        outW = 64, outH = 64)
        .toDF()
        .orderBy("id")
    },

    // WebDataset-style shard packing: media payloads in id order fill
    // 4 KiB shards per language group (shard = floor(exclusive-prefix-bytes
    // / cap), the same greedy-contiguous rule as pipe_pack_bins but over
    // BYTE sizes — the tar-shard materialization a multimodal training
    // pipeline writes). The per-group ordered prefix sum range-partitions
    // (GlobalRank.withGroupedPrefixSum) — parallelism stays partition-
    // bound, never one-task-per-lang
    "mm_shard_pack" -> { (s, dir) =>
      val base = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), col("lang"),
          length(col("text").cast("binary")).as("byte_len"))
      graft.operators.GlobalRank.withGroupedPrefixSum(
          base, Seq("lang"), Seq(col("id")), col("byte_len"))
        .withColumn("shard",
          floor(col("grp_prefix") / lit(4096.0)).cast("long"))
        .groupBy(col("lang"), col("shard"))
        .agg(count(lit(1)).as("n_items"), sum(col("byte_len")).as("shard_bytes"),
          min(col("id")).as("first_id"), max(col("id")).as("last_id"))
        .orderBy("lang", "shard")
    },

    // shard member INDEX (the .idx sidecar a WebDataset/tar reader needs
    // for random access): each member's byte offset inside its shard's
    // concatenated payload = global prefix − the shard's first prefix.
    // The rebase runs as a window over (lang, shard) — a HIGH-cardinality
    // key (one group per ~4 KiB of corpus) with 4 KiB-bounded groups, so
    // unlike a per-lang window this parallelizes at any scale
    "mm_shard_index" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val base = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), col("lang"),
          length(col("text").cast("binary")).as("byte_len"))
      val pre = graft.operators.GlobalRank.withGroupedPrefixSum(
          base, Seq("lang"), Seq(col("id")), col("byte_len"))
        .withColumn("shard",
          floor(col("grp_prefix") / lit(4096.0)).cast("long"))
      val w = Window.partitionBy("lang", "shard")
      pre.withColumn("byte_offset",
          col("grp_prefix") - min(col("grp_prefix")).over(w))
        .select(col("lang"), col("shard"), col("id"), col("byte_offset"),
          col("byte_len"))
        .orderBy("lang", "shard", "id")
    },

    // shard materialization (the write step of mm_shard_pack): each
    // shard's members concatenated in id order into one payload — the
    // tar-member stream a WebDataset writer emits. collect_list is
    // shuffle-order-nondeterministic, so sort_array over (id, payload)
    // structs pins member order before the concat (pipe_pack_payload's
    // rule applied to bytes); the oracle checks the payload's md5
    "mm_shard_payload" -> { (s, dir) =>
      val base = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), col("lang"), col("text"),
          length(col("text").cast("binary")).as("byte_len"))
      graft.operators.GlobalRank.withGroupedPrefixSum(
          base, Seq("lang"), Seq(col("id")), col("byte_len"))
        .withColumn("shard",
          floor(col("grp_prefix") / lit(4096.0)).cast("long"))
        .groupBy(col("lang"), col("shard"))
        .agg(count(lit(1)).as("n_items"), sum(col("byte_len")).as("shard_bytes"),
          md5(array_join(expr(
            "transform(sort_array(collect_list(struct(id, text))), x -> x.text)"),
            "").cast("binary")).as("payload_md5"))
        .orderBy("lang", "shard")
    },

    // shard RANDOM-ACCESS READ-BACK (the .idx consumer — the reader half
    // of the WebDataset round-trip the pack/index/payload trio writes):
    // sampled members are re-extracted from the CONCATENATED shard
    // payload purely by their (byte_offset, byte_len) index entry —
    // byte-based binary substring, no per-member markers — and the
    // oracle hashes the ORIGINAL text per member, so one wrong offset,
    // one mis-sorted member, or any multi-byte/UTF-8 length confusion
    // anywhere in the pack→index→read chain fails the compare
    "mm_shard_read" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val base = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), col("lang"), col("text"),
          length(col("text").cast("binary")).as("byte_len"))
      val pre = graft.operators.GlobalRank.withGroupedPrefixSum(
          base, Seq("lang"), Seq(col("id")), col("byte_len"))
        .withColumn("shard",
          floor(col("grp_prefix") / lit(4096.0)).cast("long"))
      val w = Window.partitionBy("lang", "shard")
      val members = pre.withColumn("byte_offset",
        col("grp_prefix") - min(col("grp_prefix")).over(w))
      val payloads = members.groupBy(col("lang"), col("shard"))
        .agg(expr("cast(array_join(transform(" +
          "sort_array(collect_list(struct(id, text))), x -> x.text), '') " +
          "as binary)").as("payload"))
      members.where(col("id") % 7 === 0)
        .select(col("lang"), col("shard"), col("id"), col("byte_offset"),
          col("byte_len"))
        .join(payloads, Seq("lang", "shard"))
        .select(col("lang"), col("shard"), col("id"), col("byte_offset"),
          col("byte_len"),
          md5(expr("substring(payload, cast(byte_offset + 1 as int), " +
            "cast(byte_len as int))")).as("member_md5"))
        .orderBy("lang", "shard", "id")
    },

    // Matryoshka-style two-stage retrieval: coarse top-32 by 16-dim
    // PREFIX cosine (a quarter of the dot-product work; with MRL-trained
    // embeddings the prefix preserves ranking), then exact full-dim
    // rerank of just those candidates to top-5. At 100 TB stage 1 is the
    // only corpus-wide pass and it reads a quarter of the vector bytes —
    // store the prefix as its own column and the scan prunes to it
    "sim_mrl_rerank" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val V = graft.functions.Vectors
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id").as("n_id"), V.toDoubleArray(col("embedding")).as("v"))
        .withColumn("p", slice(col("v"), 1, 16))
        .withColumn("nrm", V.norm(col("v")))
        .withColumn("pnrm", V.norm(col("p")))
      val q = v.where(col("n_id") < 10).select(
        col("n_id").as("q_id"), col("v").as("q_v"), col("p").as("q_p"),
        col("nrm").as("q_nrm"), col("pnrm").as("q_pnrm"))
      val wCoarse = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("n_id"))
      val coarse = v.crossJoin(broadcast(q)).where(col("q_id") =!= col("n_id"))
        .withColumn("pcos", V.dot(col("p"), col("q_p")) / (col("pnrm") * col("q_pnrm")))
        .withColumn("crank", row_number().over(wCoarse))
        .where(col("crank") <= 32)
      val wFine = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
      coarse.select(col("q_id"), col("n_id"),
          (V.dot(col("v"), col("q_v")) / (col("nrm") * col("q_nrm"))).as("cosine"))
        .withColumn("rank", row_number().over(wFine))
        .where(col("rank") <= 5)
        .orderBy("q_id", "rank")
    },

    // one Lloyd (k-means) refinement step over the stride-seeded IVF
    // centroids: map-only assign + per-centroid ordered-fold means — the
    // double summation order is PINNED to member-id order, so the
    // recomputed coordinates are engine/retry-reproducible (see
    // IvfIndex.lloydStep for why exact decimals were a dead end here)
    "sim_kmeans_step" -> { (s, dir) =>
      IvfIndex.lloydStep(Tables.embeddings(s, dir), "vec_id", "embedding",
        stride = 32)
        .orderBy("c_id", "pos")
    },

    // the full k-means TRAINING loop (round 9 — what sim_kmeans_step is
    // one turn of): three Lloyd iterations from the stride seeds, each
    // emitting (iter, c_id, n_members, shift=‖c_new − c_old‖²) — the
    // convergence trace a production trainer thresholds to stop early.
    // Per iteration: one map-only assignment pass over the corpus + one
    // c_id shuffle for the per-centroid folds; the centroids
    // stay on the driver, so no plan grows with the iteration count.
    // Every mean is the member-id-pinned fold and every shift a pos-pinned
    // fold — the whole 3-deep iteration replays bit-exactly in the oracle
    "sim_kmeans_train" -> { (s, dir) =>
      IvfIndex.lloydTrain(Tables.embeddings(s, dir), "vec_id", "embedding",
        stride = 32, iters = 3)
        .orderBy("iter", "c_id")
    },

    // cluster-label purity audit (the "is this clustering meaningful"
    // check run after any IVF/kmeans build): per centroid, member count
    // and the majority label's share. Assignment reuses the map-only
    // nearest-centroid pass; purity is count-then-argmax (the q51_mode
    // shape, map-side combinable, tie-pinned toward the smaller label) —
    // never a per-cluster sort
    "sim_cluster_purity" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val asg = IvfIndex.assign(emb,
        IvfIndex.centroids(emb, "vec_id", "embedding", 32),
        "vec_id", "embedding").select(col("id"), col("c_id"))
      val cnt = asg.join(emb.select(col("vec_id").as("id"), col("label")), Seq("id"))
        .groupBy(col("c_id"), col("label")).agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy(col("c_id")).agg(sum(col("n")).as("n_members"))
      cnt.groupBy(col("c_id"))
        .agg(min_by(struct(col("label"), col("n")),
          struct(-col("n"), col("label"))).as("m"))
        .join(tot, Seq("c_id"))
        .select(col("c_id"), col("n_members"),
          col("m.label").as("top_label"), col("m.n").as("n_top"),
          (col("m.n").cast("double") / col("n_members").cast("double"))
            .as("purity"))
        .orderBy("c_id")
    },

    // per-dimension corpus statistics (the whitening / feature-scaling
    // pre-pass an embedding pipeline runs before quantization or PCA):
    // min/max are exact float comparisons; the mean is an ordered fold
    // over vec_id — the kmeans/pagerank determinism trade (production
    // keeps the unordered double sum and a tolerance; the pinned fold is
    // what makes the oracle exact). One explode + one 64-group hash agg
    "sim_dim_stats" -> { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(
          graft.functions.Vectors.toDoubleArray(col("embedding")))
          .as(Seq("pos", "x")))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_v"), max(col("x")).as("max_v"),
          aggregate(transform(
            array_sort(collect_list(struct(col("vec_id"), col("x")))),
            t => t.getField("x")), lit(0.0), (a, b) => a + b).as("sum_v"))
        .select(col("pos"), col("n"), col("min_v"), col("max_v"),
          (col("sum_v") / col("n")).as("mean_v"))
        .orderBy("pos")
    }
  )

  private[queries] def dotSql(a: String, b: String) =
    s"list_reduce(list_prepend(0.0, [$a[i] * $b[i] for i in generate_series(1, len($a))]), (x, y) -> x + y)"

  private[queries] def cosSql(a: String, b: String) =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** One Lloyd iteration's CTE chain for the sim_kmeans_train oracle:
    * assignment argmax against `prev`, member-id-pinned cumulative-sum
    * means, pos-pinned ‖c_new − c_old‖² fold, and the next centroid list.
    */
  private def lloydIterSql(i: Int, prev: String): String =
    s"""asg$i AS (SELECT id, c_id, e FROM (
       |  SELECT v.id, v.e, c.c_id,
       |    ROW_NUMBER() OVER (PARTITION BY v.id
       |      ORDER BY ${cosSql("v.e", "c.c_e")} DESC, c.c_id) AS rn
       |  FROM v CROSS JOIN $prev c) WHERE rn = 1),
       |x$i AS (SELECT id, c_id, unnest(e) AS xv,
       |  unnest(generate_series(1, len(e))) AS p FROM asg$i),
       |cum$i AS (SELECT id, c_id, p, SUM(xv) OVER (PARTITION BY c_id, p
       |  ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |  AS cumsum FROM x$i),
       |m$i AS (SELECT c_id, p, COUNT(*) AS n_members,
       |  max_by(cumsum, id) / COUNT(*) AS mean FROM cum$i GROUP BY c_id, p),
       |o$i AS (SELECT c_id, unnest(c_e) AS ox,
       |  unnest(generate_series(1, len(c_e))) AS p FROM $prev),
       |s$i AS (SELECT m.c_id, MAX(m.n_members) AS n_members,
       |  list_reduce(list_prepend(0.0::DOUBLE,
       |    list((m.mean - o.ox) * (m.mean - o.ox) ORDER BY m.p)),
       |    (x, y) -> x + y) AS shift
       |  FROM m$i m JOIN o$i o ON m.c_id = o.c_id AND m.p = o.p
       |  GROUP BY m.c_id),
       |c$i AS (SELECT c_id, list(mean ORDER BY p) AS c_e FROM m$i GROUP BY c_id)""".stripMargin

  /** The LSH plane matrices inlined as SQL literals: `Double.toString`
    * round-trips exactly, so the oracle evaluates the SAME planes the
    * LshBuckets expression carries, and the left-fold dot product matches
    * its accumulation order — bucket ids agree bit-for-bit.
    */
  private def planeLit(p: Array[Double]): String =
    p.map(_.toString).mkString("[", ", ", "]")

  /** Per-table bucket id of vector expression `vec` (packed sign bits,
    * LshBuckets twin). */
  private[queries] def bucketSqls(vec: String,
                                  tables: Array[Array[Array[Double]]]): Seq[String] =
    tables.toSeq.map { tbl =>
      tbl.zipWithIndex.map { case (pl, i) =>
        s"(CASE WHEN ${dotSql(vec, planeLit(pl))} >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    }

  /** The graph-beam-search replay (blocked ∪ pseudo-random graph, entry
    * scoring, three expand/score/keep-8 rounds) as a WITH-body shared by
    * the sim_graph_search oracle and the sim_graph_recall audit.
    */
  /** Replay of the PERSISTED graph-ANN probe: the stored graph is seed →
    * ONE NN-descent refinement (exactly the sim_nn_descent oracle's
    * pipeline up to `g`), then the same entry + 3 expand/score/keep-8
    * rounds the flat beam replay uses — over the refined graph instead of
    * the raw seed.
    */
  private lazy val annPersistCtes: String = {
    def round(i: Int): String =
      s"""c$i AS (SELECT DISTINCT q_id, id FROM (
         |  SELECT q_id, id FROM b${i - 1}
         |  UNION ALL SELECT b${i - 1}.q_id, und.b_id AS id
         |  FROM b${i - 1} JOIN und ON und.a_id = b${i - 1}.id)),
         |s$i AS (SELECT c.q_id, c.id,
         |  ${cosSql("q.q_e", "x.e")} AS cosine
         | FROM c$i c JOIN v x ON x.vec_id = c.id
         | JOIN qf q ON q.q_id = c.q_id WHERE c.id != c.q_id),
         |b$i AS (SELECT q_id, id, cosine, rank FROM (
         |  SELECT q_id, id, cosine, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cosine DESC, id) AS rank FROM s$i) WHERE rank <= 8)""".stripMargin
    s"""v AS (SELECT vec_id, label, [x::DOUBLE for x in embedding] AS e FROM embeddings),
       |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  ${dotSql("a.e", "b.e")} /
       |   (sqrt(${dotSql("a.e", "a.e")}) * sqrt(${dotSql("b.e", "b.e")})) AS cosine
       | FROM v a JOIN v b ON a.label = b.label AND a.vec_id != b.vec_id),
       |blocked AS (SELECT a_id, b_id FROM (
       |  SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id
       |    ORDER BY cosine DESC, b_id) AS rank FROM p) WHERE rank <= 3),
       |nq AS (SELECT COUNT(*) AS n FROM v),
       |rnd AS (SELECT a.vec_id AS a_id,
       |  (a.vec_id * 131 + t.t * 9973) % nq.n AS b_id
       | FROM v a CROSS JOIN (SELECT unnest([1, 2, 3]) AS t) t CROSS JOIN nq
       | WHERE (a.vec_id * 131 + t.t * 9973) % nq.n != a.vec_id),
       |seed AS (SELECT a_id, b_id FROM blocked
       |  UNION ALL SELECT a_id, b_id FROM rnd),
       |und0 AS (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM seed
       |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM seed)),
       |nn AS (SELECT e1.a_id, e2.b_id FROM und0 e1
       |  JOIN und0 e2 ON e1.b_id = e2.a_id WHERE e1.a_id != e2.b_id),
       |cand AS (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM und0 UNION ALL SELECT a_id, b_id FROM nn)),
       |sc AS (SELECT c.a_id, c.b_id,
       |  ${dotSql("a.e", "b.e")} /
       |   (sqrt(${dotSql("a.e", "a.e")}) * sqrt(${dotSql("b.e", "b.e")})) AS cosine
       | FROM cand c JOIN v a ON a.vec_id = c.a_id JOIN v b ON b.vec_id = c.b_id),
       |g AS (SELECT a_id, b_id FROM (
       |  SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id
       |    ORDER BY cosine DESC, b_id) AS rank FROM sc) WHERE rank <= 3),
       |und AS (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM g
       |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM g)),
       |qf AS (SELECT vec_id AS q_id, e AS q_e FROM v WHERE vec_id < 10),
       |s0 AS (SELECT qf.q_id, x.vec_id AS id,
       |  ${cosSql("qf.q_e", "x.e")} AS cosine
       | FROM qf CROSS JOIN v x
       | WHERE x.vec_id % 100 = 0 AND x.vec_id != qf.q_id),
       |b0 AS (SELECT q_id, id, cosine, rank FROM (
       |  SELECT q_id, id, cosine, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, id) AS rank FROM s0) WHERE rank <= 8),
       |${round(1)},
       |${round(2)},
       |${round(3)}""".stripMargin
  }

  /** Replay of sim_ann_filtered's two regimes: `xr` = exact ranked top-k
    * over the label-3 subset; `pf` = the 20-wide (k·overFetch) beam over
    * the SEED graph, parity-post-filtered and re-ranked.
    */
  private lazy val annFilteredCtes: String = {
    def round(i: Int): String =
      s"""wc$i AS (SELECT DISTINCT q_id, id FROM (
         |  SELECT q_id, id FROM wb${i - 1}
         |  UNION ALL SELECT p.q_id, u.b_id AS id
         |  FROM wb${i - 1} p JOIN und u ON u.a_id = p.id)),
         |ws$i AS (SELECT c.q_id, c.id,
         |  ${cosSql("q.q_e", "x.e")} AS cosine
         | FROM wc$i c JOIN v x ON x.vec_id = c.id
         | JOIN qf q ON q.q_id = c.q_id WHERE c.id != c.q_id),
         |wb$i AS (SELECT q_id, id, cosine, rank FROM (
         |  SELECT q_id, id, cosine, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cosine DESC, id) AS rank FROM ws$i) WHERE rank <= 20)"""
        .stripMargin
    s"""v AS MATERIALIZED (SELECT vec_id, label, [x::DOUBLE for x in embedding] AS e FROM embeddings),
       |qf AS MATERIALIZED (SELECT vec_id AS q_id, e AS q_e FROM v WHERE vec_id < 10),
       |m3 AS (SELECT vec_id, e FROM v WHERE label = 3),
       |xs AS (SELECT qf.q_id, m3.vec_id AS n_id,
       |  ${cosSql("qf.q_e", "m3.e")} AS cosine
       | FROM qf CROSS JOIN m3 WHERE m3.vec_id != qf.q_id),
       |xr AS (SELECT q_id, n_id, cosine,
       |  ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, n_id) AS rank FROM xs),
       |rsub AS (SELECT vec_id, e FROM v
       | WHERE vec_id < (SELECT CAST(FLOOR(COUNT(*) / 10) AS BIGINT) FROM v)),
       |rgs AS (SELECT qf.q_id, rsub.vec_id AS n_id,
       |  ${cosSql("qf.q_e", "rsub.e")} AS cosine
       | FROM qf CROSS JOIN rsub WHERE rsub.vec_id != qf.q_id),
       |rgr AS (SELECT q_id, n_id, cosine,
       |  ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, n_id) AS rank FROM rgs),
       |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  ${cosSql("a.e", "b.e")} AS cosine
       | FROM v a JOIN v b ON a.label = b.label AND a.vec_id != b.vec_id),
       |blocked AS (SELECT a_id, b_id FROM (
       |  SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id
       |    ORDER BY cosine DESC, b_id) AS rank FROM p) WHERE rank <= 3),
       |nq AS (SELECT COUNT(*) AS n FROM v),
       |rnd AS (SELECT a.vec_id AS a_id,
       |  (a.vec_id * 131 + t.t * 9973) % nq.n AS b_id
       | FROM v a CROSS JOIN (SELECT unnest([1, 2, 3]) AS t) t CROSS JOIN nq
       | WHERE (a.vec_id * 131 + t.t * 9973) % nq.n != a.vec_id),
       |seed AS (SELECT a_id, b_id FROM blocked
       |  UNION ALL SELECT a_id, b_id FROM rnd),
       |und AS MATERIALIZED (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM seed
       |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM seed)),
       |ws0 AS (SELECT qf.q_id, x.vec_id AS id,
       |  ${cosSql("qf.q_e", "x.e")} AS cosine
       | FROM qf CROSS JOIN v x
       | WHERE x.vec_id % 100 = 0 AND x.vec_id != qf.q_id),
       |wb0 AS (SELECT q_id, id, cosine, rank FROM (
       |  SELECT q_id, id, cosine, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, id) AS rank FROM ws0) WHERE rank <= 20),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |pf AS (SELECT q_id, id, cosine,
       |  ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, id) AS rank
       | FROM wb3 WHERE id % 2 = 0)""".stripMargin
  }

  /** Full replay of the sim_ann_optimize pipeline: build over the 3/4
    * base corpus (block-local top-3 ∪ arithmetic pseudo-random links →
    * one descent step), refresh beam placement of the held-out quarter
    * (fwd + slot rev edges), the bounded re-descent (touched region =
    * appended endpoints + one hop; region re-seed ∪ region subgraph →
    * one descent step over the FULL corpus; untouched edges verbatim),
    * and the final 3-round beam probe over the optimized graph. Every
    * stage mirrors the Scala operator step-for-step so the oracle
    * value-checks the optimized graph's bytes end-to-end.
    */
  private lazy val annOptimizeCtes: String = {
    // one beam-search round: expand `prev` with `und` neighbors, score
    // against `qSrc` (q_id, q_e), keep top-8
    def beamRound(prefix: String, i: Int, und: String, qSrc: String): String =
      s"""${prefix}c$i AS (SELECT DISTINCT q_id, id FROM (
         |  SELECT q_id, id FROM ${prefix}b${i - 1}
         |  UNION ALL SELECT p.q_id, u.b_id AS id
         |  FROM ${prefix}b${i - 1} p JOIN $und u ON u.a_id = p.id)),
         |${prefix}s$i AS (SELECT c.q_id, c.id,
         |  ${cosSql("q.q_e", "x.e")} AS cosine
         | FROM ${prefix}c$i c JOIN v x ON x.vec_id = c.id
         | JOIN $qSrc q ON q.q_id = c.q_id WHERE c.id != c.q_id),
         |${prefix}b$i AS (SELECT q_id, id, cosine, rank FROM (
         |  SELECT q_id, id, cosine, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cosine DESC, id) AS rank FROM ${prefix}s$i) WHERE rank <= 8)"""
        .stripMargin
    s"""v AS MATERIALIZED (SELECT vec_id, label, [x::DOUBLE for x in embedding] AS e FROM embeddings),
       |vb AS MATERIALIZED (SELECT * FROM v WHERE vec_id % 4 != 3),
       |pb AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  ${cosSql("a.e", "b.e")} AS cosine
       | FROM vb a JOIN vb b ON a.label = b.label AND a.vec_id != b.vec_id),
       |blockedb AS (SELECT a_id, b_id FROM (
       |  SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id
       |    ORDER BY cosine DESC, b_id) AS rank FROM pb) WHERE rank <= 3),
       |nqb AS (SELECT COUNT(*) AS n FROM vb),
       |rndb AS (SELECT a.vec_id AS a_id,
       |  (a.vec_id * 131 + t.t * 9973) % nqb.n AS b_id
       | FROM vb a CROSS JOIN (SELECT unnest([1, 2, 3]) AS t) t CROSS JOIN nqb
       | WHERE (a.vec_id * 131 + t.t * 9973) % nqb.n != a.vec_id),
       |seedb AS MATERIALIZED (SELECT a_id, b_id FROM blockedb
       |  UNION ALL SELECT a_id, b_id FROM rndb),
       |undb AS MATERIALIZED (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM seedb
       |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM seedb)),
       |nnb AS (SELECT e1.a_id, e2.b_id FROM undb e1
       |  JOIN undb e2 ON e1.b_id = e2.a_id WHERE e1.a_id != e2.b_id),
       |candb AS (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM undb UNION ALL SELECT a_id, b_id FROM nnb)),
       |scb AS (SELECT c.a_id, c.b_id,
       |  ${cosSql("a.e", "b.e")} AS cosine
       | FROM candb c JOIN vb a ON a.vec_id = c.a_id
       | JOIN vb b ON b.vec_id = c.b_id),
       |g0 AS MATERIALIZED (SELECT a_id, b_id, cosine, rank FROM (
       |  SELECT a_id, b_id, cosine, ROW_NUMBER() OVER (PARTITION BY a_id
       |    ORDER BY cosine DESC, b_id) AS rank FROM scb) WHERE rank <= 3),
       |idx AS MATERIALIZED (SELECT DISTINCT a_id FROM g0),
       |rqf AS MATERIALIZED (SELECT vec_id AS q_id, e AS q_e FROM v
       | WHERE vec_id NOT IN (SELECT a_id FROM idx)),
       |entr AS (SELECT a_id FROM idx WHERE a_id % 100 = 0),
       |undr AS MATERIALIZED (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM g0
       |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM g0)),
       |rs0 AS (SELECT q.q_id, en.a_id AS id,
       |  ${cosSql("q.q_e", "x.e")} AS cosine
       | FROM rqf q CROSS JOIN entr en JOIN v x ON x.vec_id = en.a_id
       | WHERE en.a_id != q.q_id),
       |rb0 AS (SELECT q_id, id, cosine, rank FROM (
       |  SELECT q_id, id, cosine, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, id) AS rank FROM rs0) WHERE rank <= 8),
       |${beamRound("r", 1, "undr", "rqf")},
       |${beamRound("r", 2, "undr", "rqf")},
       |${beamRound("r", 3, "undr", "rqf")},
       |found AS (SELECT q_id, id, cosine, rank FROM rb3 WHERE rank <= 3),
       |app AS MATERIALIZED (SELECT q_id AS a_id, id AS b_id, cosine, rank FROM found
       |  UNION ALL SELECT id AS a_id, q_id AS b_id, cosine, rank FROM found),
       |g1 AS MATERIALIZED (SELECT * FROM g0 UNION ALL SELECT * FROM app),
       |t0 AS MATERIALIZED (SELECT DISTINCT a_id FROM (
       |  SELECT a_id FROM app UNION ALL SELECT b_id AS a_id FROM app)),
       |und1 AS (SELECT a_id, b_id FROM g1
       |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM g1),
       |scope AS MATERIALIZED (SELECT DISTINCT a_id FROM (
       |  SELECT a_id FROM t0
       |  UNION ALL SELECT u.b_id AS a_id FROM und1 u
       |    JOIN t0 ON u.a_id = t0.a_id)),
       |sub AS MATERIALIZED (SELECT a_id, b_id FROM g1
       | WHERE a_id IN (SELECT a_id FROM scope)),
       |sv AS MATERIALIZED (SELECT * FROM v WHERE vec_id IN (SELECT a_id FROM scope)),
       |rp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  ${cosSql("a.e", "b.e")} AS cosine
       | FROM sv a JOIN sv b ON a.label = b.label AND a.vec_id != b.vec_id),
       |rsd AS (SELECT a_id, b_id FROM (
       |  SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id
       |    ORDER BY cosine DESC, b_id) AS rank FROM rp) WHERE rank <= 3),
       |seeded AS MATERIALIZED (SELECT a_id, b_id FROM rsd
       |  UNION ALL SELECT a_id, b_id FROM sub),
       |und2 AS MATERIALIZED (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM seeded
       |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM seeded)),
       |nn2 AS (SELECT e1.a_id, e2.b_id FROM und2 e1
       |  JOIN und2 e2 ON e1.b_id = e2.a_id WHERE e1.a_id != e2.b_id),
       |cand2 AS (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM und2 UNION ALL SELECT a_id, b_id FROM nn2)),
       |sc2 AS (SELECT c.a_id, c.b_id,
       |  ${cosSql("a.e", "b.e")} AS cosine
       | FROM cand2 c JOIN v a ON a.vec_id = c.a_id
       | JOIN v b ON b.vec_id = c.b_id),
       |redone AS (SELECT a_id, b_id, cosine, rank FROM (
       |  SELECT a_id, b_id, cosine, ROW_NUMBER() OVER (PARTITION BY a_id
       |    ORDER BY cosine DESC, b_id) AS rank FROM sc2) WHERE rank <= 3
       |  AND a_id IN (SELECT a_id FROM scope)),
       |g2 AS MATERIALIZED (SELECT a_id, b_id, cosine, rank FROM g1
       |  WHERE a_id NOT IN (SELECT a_id FROM scope)
       |  UNION ALL SELECT a_id, b_id, cosine, rank FROM redone),
       |und3 AS MATERIALIZED (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM g2
       |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM g2)),
       |fqf AS MATERIALIZED (SELECT vec_id AS q_id, e AS q_e FROM v WHERE vec_id < 10),
       |fs0 AS (SELECT q.q_id, x.vec_id AS id,
       |  ${cosSql("q.q_e", "x.e")} AS cosine
       | FROM fqf q CROSS JOIN v x
       | WHERE x.vec_id % 100 = 0 AND x.vec_id != q.q_id),
       |fb0 AS (SELECT q_id, id, cosine, rank FROM (
       |  SELECT q_id, id, cosine, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, id) AS rank FROM fs0) WHERE rank <= 8),
       |${beamRound("f", 1, "und3", "fqf")},
       |${beamRound("f", 2, "und3", "fqf")},
       |${beamRound("f", 3, "und3", "fqf")}""".stripMargin
  }

  /** Full replay of the sim_ann_delete pipeline: build over the WHOLE
    * corpus (block-local top-3 ∪ arithmetic pseudo-random links → one
    * descent step), delete the vec_id %% 10 = 7 slice, the heal (drop
    * every edge touching a dead id both ways; re-descend exactly the
    * bereaved nodes — region re-seed over survivor corpus rows ∪ the
    * region's live edges → one descent step scored against SURVIVORS;
    * every non-bereaved edge verbatim), and the final 3-round beam probe
    * over the healed graph. Mirrors AnnIndex.optimizeEdges' dead path
    * step-for-step so the oracle value-checks the healed graph's bytes.
    */
  private lazy val annDeleteCtes: String = {
    def beamRound(prefix: String, i: Int, und: String, qSrc: String): String =
      s"""${prefix}c$i AS (SELECT DISTINCT q_id, id FROM (
         |  SELECT q_id, id FROM ${prefix}b${i - 1}
         |  UNION ALL SELECT p.q_id, u.b_id AS id
         |  FROM ${prefix}b${i - 1} p JOIN $und u ON u.a_id = p.id)),
         |${prefix}s$i AS (SELECT c.q_id, c.id,
         |  ${cosSql("q.q_e", "x.e")} AS cosine
         | FROM ${prefix}c$i c JOIN vd x ON x.vec_id = c.id
         | JOIN $qSrc q ON q.q_id = c.q_id WHERE c.id != c.q_id),
         |${prefix}b$i AS (SELECT q_id, id, cosine, rank FROM (
         |  SELECT q_id, id, cosine, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cosine DESC, id) AS rank FROM ${prefix}s$i) WHERE rank <= 8)"""
        .stripMargin
    s"""v AS MATERIALIZED (SELECT vec_id, label, [x::DOUBLE for x in embedding] AS e FROM embeddings),
       |vd AS MATERIALIZED (SELECT * FROM v WHERE vec_id % 10 != 7),
       |pb AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  ${cosSql("a.e", "b.e")} AS cosine
       | FROM v a JOIN v b ON a.label = b.label AND a.vec_id != b.vec_id),
       |blockedb AS (SELECT a_id, b_id FROM (
       |  SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id
       |    ORDER BY cosine DESC, b_id) AS rank FROM pb) WHERE rank <= 3),
       |nqb AS (SELECT COUNT(*) AS n FROM v),
       |rndb AS (SELECT a.vec_id AS a_id,
       |  (a.vec_id * 131 + t.t * 9973) % nqb.n AS b_id
       | FROM v a CROSS JOIN (SELECT unnest([1, 2, 3]) AS t) t CROSS JOIN nqb
       | WHERE (a.vec_id * 131 + t.t * 9973) % nqb.n != a.vec_id),
       |seedb AS MATERIALIZED (SELECT a_id, b_id FROM blockedb
       |  UNION ALL SELECT a_id, b_id FROM rndb),
       |undb AS MATERIALIZED (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM seedb
       |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM seedb)),
       |nnb AS (SELECT e1.a_id, e2.b_id FROM undb e1
       |  JOIN undb e2 ON e1.b_id = e2.a_id WHERE e1.a_id != e2.b_id),
       |candb AS (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM undb UNION ALL SELECT a_id, b_id FROM nnb)),
       |scb AS (SELECT c.a_id, c.b_id,
       |  ${cosSql("a.e", "b.e")} AS cosine
       | FROM candb c JOIN v a ON a.vec_id = c.a_id
       | JOIN v b ON b.vec_id = c.b_id),
       |g0 AS MATERIALIZED (SELECT a_id, b_id, cosine, rank FROM (
       |  SELECT a_id, b_id, cosine, ROW_NUMBER() OVER (PARTITION BY a_id
       |    ORDER BY cosine DESC, b_id) AS rank FROM scb) WHERE rank <= 3),
       |gl AS MATERIALIZED (SELECT * FROM g0
       | WHERE a_id % 10 != 7 AND b_id % 10 != 7),
       |scope AS MATERIALIZED (SELECT DISTINCT a_id FROM (
       |  SELECT a_id FROM g0 WHERE b_id % 10 = 7
       |  UNION ALL SELECT b_id AS a_id FROM g0 WHERE a_id % 10 = 7)
       | WHERE a_id % 10 != 7),
       |sub AS MATERIALIZED (SELECT a_id, b_id FROM gl
       | WHERE a_id IN (SELECT a_id FROM scope)),
       |sv AS MATERIALIZED (SELECT * FROM vd WHERE vec_id IN (SELECT a_id FROM scope)),
       |rp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  ${cosSql("a.e", "b.e")} AS cosine
       | FROM sv a JOIN sv b ON a.label = b.label AND a.vec_id != b.vec_id),
       |rsd AS (SELECT a_id, b_id FROM (
       |  SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id
       |    ORDER BY cosine DESC, b_id) AS rank FROM rp) WHERE rank <= 3),
       |seeded AS MATERIALIZED (SELECT a_id, b_id FROM rsd
       |  UNION ALL SELECT a_id, b_id FROM sub),
       |und2 AS MATERIALIZED (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM seeded
       |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM seeded)),
       |nn2 AS (SELECT e1.a_id, e2.b_id FROM und2 e1
       |  JOIN und2 e2 ON e1.b_id = e2.a_id WHERE e1.a_id != e2.b_id),
       |cand2 AS (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM und2 UNION ALL SELECT a_id, b_id FROM nn2)),
       |sc2 AS (SELECT c.a_id, c.b_id,
       |  ${cosSql("a.e", "b.e")} AS cosine
       | FROM cand2 c JOIN vd a ON a.vec_id = c.a_id
       | JOIN vd b ON b.vec_id = c.b_id),
       |redone AS (SELECT a_id, b_id, cosine, rank FROM (
       |  SELECT a_id, b_id, cosine, ROW_NUMBER() OVER (PARTITION BY a_id
       |    ORDER BY cosine DESC, b_id) AS rank FROM sc2) WHERE rank <= 3
       |  AND a_id IN (SELECT a_id FROM scope)),
       |g2 AS MATERIALIZED (SELECT a_id, b_id, cosine, rank FROM gl
       |  WHERE a_id NOT IN (SELECT a_id FROM scope)
       |  UNION ALL SELECT a_id, b_id, cosine, rank FROM redone),
       |und3 AS MATERIALIZED (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM g2
       |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM g2)),
       |fqf AS MATERIALIZED (SELECT vec_id AS q_id, e AS q_e FROM vd WHERE vec_id < 10),
       |fs0 AS (SELECT q.q_id, x.vec_id AS id,
       |  ${cosSql("q.q_e", "x.e")} AS cosine
       | FROM fqf q CROSS JOIN vd x
       | WHERE x.vec_id % 100 = 0 AND x.vec_id != q.q_id),
       |fb0 AS (SELECT q_id, id, cosine, rank FROM (
       |  SELECT q_id, id, cosine, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, id) AS rank FROM fs0) WHERE rank <= 8),
       |${beamRound("f", 1, "und3", "fqf")},
       |${beamRound("f", 2, "und3", "fqf")},
       |${beamRound("f", 3, "und3", "fqf")}""".stripMargin
  }

  private lazy val graphSearchCtes: String = {
    def round(i: Int): String =
      s"""c$i AS (SELECT DISTINCT q_id, id FROM (
         |  SELECT q_id, id FROM b${i - 1}
         |  UNION ALL SELECT b${i - 1}.q_id, und.b_id AS id
         |  FROM b${i - 1} JOIN und ON und.a_id = b${i - 1}.id)),
         |s$i AS (SELECT c.q_id, c.id,
         |  ${cosSql("q.q_e", "x.e")} AS cosine
         | FROM c$i c JOIN v x ON x.vec_id = c.id
         | JOIN qf q ON q.q_id = c.q_id WHERE c.id != c.q_id),
         |b$i AS (SELECT q_id, id, cosine, rank FROM (
         |  SELECT q_id, id, cosine, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cosine DESC, id) AS rank FROM s$i) WHERE rank <= 8)""".stripMargin
    s"""v AS (SELECT vec_id, label, [x::DOUBLE for x in embedding] AS e FROM embeddings),
       |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  ${dotSql("a.e", "b.e")} /
       |   (sqrt(${dotSql("a.e", "a.e")}) * sqrt(${dotSql("b.e", "b.e")})) AS cosine
       | FROM v a JOIN v b ON a.label = b.label AND a.vec_id != b.vec_id),
       |blocked AS (SELECT a_id, b_id FROM (
       |  SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id
       |    ORDER BY cosine DESC, b_id) AS rank FROM p) WHERE rank <= 3),
       |nq AS (SELECT COUNT(*) AS n FROM v),
       |rnd AS (SELECT a.vec_id AS a_id,
       |  (a.vec_id * 131 + t.t * 9973) % nq.n AS b_id
       | FROM v a CROSS JOIN (SELECT unnest([1, 2, 3]) AS t) t CROSS JOIN nq
       | WHERE (a.vec_id * 131 + t.t * 9973) % nq.n != a.vec_id),
       |seed AS (SELECT a_id, b_id FROM blocked
       |  UNION ALL SELECT a_id, b_id FROM rnd),
       |und AS (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM seed
       |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM seed)),
       |qf AS (SELECT vec_id AS q_id, e AS q_e FROM v WHERE vec_id < 10),
       |s0 AS (SELECT qf.q_id, x.vec_id AS id,
       |  ${cosSql("qf.q_e", "x.e")} AS cosine
       | FROM qf CROSS JOIN v x
       | WHERE x.vec_id % 100 = 0 AND x.vec_id != qf.q_id),
       |b0 AS (SELECT q_id, id, cosine, rank FROM (
       |  SELECT q_id, id, cosine, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, id) AS rank FROM s0) WHERE rank <= 8),
       |${round(1)},
       |${round(2)},
       |${round(3)}""".stripMargin
  }

  /** Layer-by-layer replay of [[graft.operators.Similarity.layeredBeamSearch]]
    * with its defaults (promote 8, maxLevel 3, upperBeam 4, degree 3,
    * beamWidth 8, rounds 3): entry over the % 512 layer (self allowed —
    * only the final rank excludes the query itself), greedy step through
    * the % 64 and % 8 within-level label-blocked graphs, then two flat
    * rounds over the corpus seed graph. Ends at `hb2` (the final beam).
    */
  private lazy val hnswSearchCtes: String = {
    def levelStep(l: Int, div: Long, prevBeam: String): String =
      s"""lp$l AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${cosSql("a.e", "b.e")} AS cosine
         | FROM v a JOIN v b ON a.label = b.label AND a.vec_id != b.vec_id
         |   AND a.vec_id % $div = 0 AND b.vec_id % $div = 0),
         |le$l AS (SELECT a_id, b_id FROM (
         |  SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id
         |    ORDER BY cosine DESC, b_id) AS rank FROM lp$l) WHERE rank <= 3),
         |lu$l AS (SELECT DISTINCT a_id, b_id FROM (
         |  SELECT a_id, b_id FROM le$l
         |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM le$l)),
         |lc$l AS (SELECT DISTINCT q_id, id FROM (
         |  SELECT q_id, id FROM $prevBeam
         |  UNION ALL SELECT $prevBeam.q_id, lu$l.b_id AS id
         |  FROM $prevBeam JOIN lu$l ON lu$l.a_id = $prevBeam.id)),
         |ls$l AS (SELECT c.q_id, c.id, ${cosSql("q.q_e", "x.e")} AS cosine
         | FROM lc$l c JOIN v x ON x.vec_id = c.id
         | JOIN qf q ON q.q_id = c.q_id),
         |lb$l AS (SELECT q_id, id FROM (
         |  SELECT q_id, id, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cosine DESC, id) AS rank FROM ls$l) WHERE rank <= 4)""".stripMargin
    def flatRound(i: Int, prevBeam: String): String =
      s"""hc$i AS (SELECT DISTINCT q_id, id FROM (
         |  SELECT q_id, id FROM $prevBeam
         |  UNION ALL SELECT $prevBeam.q_id, und.b_id AS id
         |  FROM $prevBeam JOIN und ON und.a_id = $prevBeam.id)),
         |hs$i AS (SELECT c.q_id, c.id, ${cosSql("q.q_e", "x.e")} AS cosine
         | FROM hc$i c JOIN v x ON x.vec_id = c.id
         | JOIN qf q ON q.q_id = c.q_id),
         |hb$i AS (SELECT q_id, id FROM (
         |  SELECT q_id, id, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cosine DESC, id) AS rank FROM hs$i) WHERE rank <= 8)""".stripMargin
    s"""v AS (SELECT vec_id, label, [x::DOUBLE for x in embedding] AS e FROM embeddings),
       |qf AS (SELECT vec_id AS q_id, e AS q_e FROM v WHERE vec_id < 10),
       |es AS (SELECT qf.q_id, x.vec_id AS id,
       |  ${cosSql("qf.q_e", "x.e")} AS cosine
       | FROM qf CROSS JOIN v x WHERE x.vec_id % 512 = 0),
       |eb AS (SELECT q_id, id FROM (
       |  SELECT q_id, id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, id) AS rank FROM es) WHERE rank <= 4),
       |${levelStep(2, 64L, "eb")},
       |${levelStep(1, 8L, "lb2")},
       |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  ${cosSql("a.e", "b.e")} AS cosine
       | FROM v a JOIN v b ON a.label = b.label AND a.vec_id != b.vec_id),
       |blocked AS (SELECT a_id, b_id FROM (
       |  SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id
       |    ORDER BY cosine DESC, b_id) AS rank FROM p) WHERE rank <= 3),
       |nq AS (SELECT COUNT(*) AS n FROM v),
       |rnd AS (SELECT a.vec_id AS a_id,
       |  (a.vec_id * 131 + t.t * 9973) % nq.n AS b_id
       | FROM v a CROSS JOIN (SELECT unnest([1, 2, 3]) AS t) t CROSS JOIN nq
       | WHERE (a.vec_id * 131 + t.t * 9973) % nq.n != a.vec_id),
       |seed AS (SELECT a_id, b_id FROM blocked
       |  UNION ALL SELECT a_id, b_id FROM rnd),
       |und AS (SELECT DISTINCT a_id, b_id FROM (
       |  SELECT a_id, b_id FROM seed
       |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM seed)),
       |${flatRound(1, "lb1")},
       |${flatRound(2, "hb1")},
       |${flatRound(3, "hb2")},
       |hfin AS (SELECT b.q_id, b.id, ${cosSql("q.q_e", "x.e")} AS cosine
       | FROM hb3 b JOIN v x ON x.vec_id = b.id
       | JOIN qf q ON q.q_id = b.q_id WHERE b.id != b.q_id),
       |hr AS (SELECT q_id, id, cosine,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, id) AS rank
       | FROM hfin)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "sim_hnsw_search" ->
      s"""WITH $hnswSearchCtes
         |SELECT q_id, id AS n_id, cosine, rank FROM hr WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    "sim_hnsw_recall" ->
      s"""WITH $hnswSearchCtes,
         |ex AS (SELECT qf.q_id, x.vec_id AS id,
         |  ${cosSql("qf.q_e", "x.e")} AS cosine
         | FROM qf CROSS JOIN v x WHERE x.vec_id != qf.q_id),
         |exact AS (SELECT q_id, id FROM (
         |  SELECT q_id, id, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cosine DESC, id) AS rank FROM ex) WHERE rank <= 5),
         |got AS (SELECT q_id, id FROM hr WHERE rank <= 5),
         |hits AS (SELECT exact.q_id, COUNT(got.id) AS n_hit
         | FROM exact LEFT JOIN got
         |   ON got.q_id = exact.q_id AND got.id = exact.id
         | GROUP BY exact.q_id)
         |SELECT q_id, n_hit, n_hit::DOUBLE / 5.0 AS recall
         |FROM hits ORDER BY q_id""".stripMargin,

    // full value oracle for the IVF probe path: stride centroids, argmax
    // assignment, top-nProbe probing and candidate ranking are all plain
    // SQL over the same IEEE double formulas
    "sim_ann_ivf" ->
      s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |c AS (SELECT vec_id AS c_id, e AS c_e FROM v WHERE vec_id % 32 = 0),
         |asg AS (SELECT id, c_id FROM (
         |  SELECT v.vec_id AS id, c.c_id,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${cosSql("v.e", "c.c_e")} DESC, c.c_id) AS rn
         |  FROM v CROSS JOIN c) WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, e AS q_e FROM v WHERE vec_id < 10),
         |probes AS (SELECT q_id, c_id FROM (
         |  SELECT q.q_id, c.c_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id
         |      ORDER BY ${cosSql("q.q_e", "c.c_e")} DESC, c.c_id) AS pr
         |  FROM q CROSS JOIN c) WHERE pr <= 8),
         |cand AS (SELECT q.q_id, v.vec_id AS n_id, ${cosSql("q.q_e", "v.e")} AS cosine
         |  FROM probes JOIN asg ON probes.c_id = asg.c_id
         |  JOIN v ON asg.id = v.vec_id
         |  JOIN q ON probes.q_id = q.q_id
         |  WHERE v.vec_id != q.q_id),
         |r AS (SELECT q_id, n_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
         | FROM cand)
         |SELECT q_id, n_id, cosine, rank FROM r WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    // exact-L2 top-5 vs the full ADC replay, overlap counted per query
    "sim_pq_recall" ->
      s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |s AS (SELECT vec_id, g.m AS sub_id, list_slice(e, g.m * 8 + 1, g.m * 8 + 8) AS sv
         |      FROM v CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS m) g),
         |c AS (SELECT vec_id AS c_id, sub_id, sv AS cv FROM s
         |      WHERE vec_id % 32 = 0 AND vec_id < 512),
         |d AS (SELECT s.vec_id AS id, s.sub_id, c.c_id,
         |  ${dotSql("s.sv", "s.sv")} - 2.0 * ${dotSql("s.sv", "c.cv")}
         |    + ${dotSql("c.cv", "c.cv")} AS d2
         | FROM s JOIN c ON s.sub_id = c.sub_id),
         |codes AS (SELECT id, sub_id, c_id AS code FROM d
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY id, sub_id ORDER BY d2, c_id) = 1),
         |q AS (SELECT vec_id AS q_id, sub_id, sv AS qv FROM s WHERE vec_id < 10),
         |lut AS (SELECT q.q_id, q.sub_id, c.c_id,
         |  ${dotSql("q.qv", "q.qv")} - 2.0 * ${dotSql("q.qv", "c.cv")}
         |    + ${dotSql("c.cv", "c.cv")} AS d2q
         | FROM q JOIN c ON q.sub_id = c.sub_id),
         |per AS (SELECT l.q_id, x.id, x.sub_id, l.d2q
         | FROM codes x JOIN lut l ON x.sub_id = l.sub_id AND x.code = l.c_id
         | WHERE x.id <> l.q_id),
         |piv AS (SELECT q_id, id,
         |  ${(0 until 8).map(i => s"MAX(CASE WHEN sub_id = $i THEN d2q END) AS d$i").mkString(", ")}
         | FROM per GROUP BY q_id, id),
         |adc AS (SELECT q_id, id, ${(0 until 8).map(i => s"d$i").mkString(" + ")} AS adc_d2 FROM piv),
         |approx AS (SELECT q_id, id AS n_id FROM (
         |  SELECT q_id, id, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY adc_d2, id) AS rank FROM adc) WHERE rank <= 5),
         |qe AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 10),
         |ex AS (SELECT q_id, n_id FROM (
         |  SELECT qe.q_id, n.vec_id AS n_id,
         |    ROW_NUMBER() OVER (PARTITION BY qe.q_id ORDER BY
         |      ${dotSql("qe.qe", "qe.qe")} - 2.0 * ${dotSql("qe.qe", "n.e")}
         |        + ${dotSql("n.e", "n.e")}, n.vec_id) AS rank
         |  FROM qe JOIN v n ON n.vec_id != qe.q_id) WHERE rank <= 5)
         |SELECT ex.q_id, COUNT(a.n_id) AS n_hit,
         | COUNT(a.n_id)::DOUBLE / 5.0 AS recall
         |FROM ex LEFT JOIN approx a ON ex.q_id = a.q_id AND ex.n_id = a.n_id
         |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin,

    "sim_tau_sweep" ->
      s"""WITH v AS (SELECT vec_id, label, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${cosSql("a.e", "b.e")} AS cosine
         | FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id),
         |f AS (SELECT cosine FROM p WHERE cosine >= 0.25),
         |t AS (SELECT unnest([0.25::DOUBLE, 0.30::DOUBLE, 0.35::DOUBLE,
         |                     0.40::DOUBLE, 0.45::DOUBLE]) AS tau)
         |SELECT tau, COUNT(*) AS n_pairs FROM f, t WHERE cosine >= tau
         |GROUP BY tau ORDER BY tau""".stripMargin,

    // recall audit: replay BOTH retrieval paths (exact scan and the
    // nProbe=4 IVF probe) and count the overlap per query
    "sim_recall_audit" ->
      s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |q AS (SELECT vec_id AS q_id, e AS q_e FROM v WHERE vec_id < 10),
         |ex AS (SELECT q_id, n_id FROM (
         |  SELECT q.q_id, n.vec_id AS n_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id
         |      ORDER BY ${cosSql("q.q_e", "n.e")} DESC, n.vec_id) AS rank
         |  FROM q JOIN v n ON n.vec_id != q.q_id) WHERE rank <= 10),
         |c AS (SELECT vec_id AS c_id, e AS c_e FROM v WHERE vec_id % 32 = 0),
         |asg AS (SELECT id, c_id FROM (
         |  SELECT v.vec_id AS id, c.c_id,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${cosSql("v.e", "c.c_e")} DESC, c.c_id) AS rn
         |  FROM v CROSS JOIN c) WHERE rn = 1),
         |probes AS (SELECT q_id, c_id FROM (
         |  SELECT q.q_id, c.c_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id
         |      ORDER BY ${cosSql("q.q_e", "c.c_e")} DESC, c.c_id) AS pr
         |  FROM q CROSS JOIN c) WHERE pr <= 4),
         |iv AS (SELECT q_id, n_id FROM (
         |  SELECT cand.q_id, cand.n_id,
         |    ROW_NUMBER() OVER (PARTITION BY cand.q_id
         |      ORDER BY cand.cosine DESC, cand.n_id) AS rank
         |  FROM (SELECT q.q_id, v.vec_id AS n_id, ${cosSql("q.q_e", "v.e")} AS cosine
         |    FROM probes JOIN asg ON probes.c_id = asg.c_id
         |    JOIN v ON asg.id = v.vec_id
         |    JOIN q ON probes.q_id = q.q_id
         |    WHERE v.vec_id != q.q_id) cand) WHERE rank <= 10)
         |SELECT ex.q_id, COUNT(iv.n_id) AS n_hit,
         | COUNT(iv.n_id)::DOUBLE / 10.0 AS recall
         |FROM ex LEFT JOIN iv ON ex.q_id = iv.q_id AND ex.n_id = iv.n_id
         |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin,

    // full value oracle for multi-table LSH ANN: the deterministic plane
    // matrices are inlined as SQL literals (Double.toString round-trips),
    // so candidate buckets AND the final ranking are value-checked
    "sim_ann_lsh" -> {
      val planes = (0 until 8)
        .map(t => graft.functions.Vectors.makePlanes(6, 64, 42L + t)).toArray
      val bks = bucketSqls("e", planes).zipWithIndex
        .map { case (b, i) => s"$b AS b$i" }.mkString(",\n  ")
      val anyMatch = (0 until 8).map(i => s"q.b$i = n.b$i").mkString(" OR ")
      s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |b AS (SELECT vec_id, e,
         |  $bks
         | FROM v),
         |cand AS (SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS n_id
         |  FROM b q JOIN b n ON q.vec_id < 10 AND n.vec_id != q.vec_id
         |    AND ($anyMatch)),
         |scored AS (SELECT cand.q_id, cand.n_id, ${cosSql("qa.e", "nb.e")} AS cosine
         |  FROM cand JOIN v qa ON cand.q_id = qa.vec_id
         |            JOIN v nb ON cand.n_id = nb.vec_id),
         |r AS (SELECT q_id, n_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
         | FROM scored)
         |SELECT q_id, n_id, cosine, rank FROM r WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin
    },

    "sim_topk_cosine" ->
      s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |scored AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |  ${dotSql("q.e", "n.e")} /
         |   (sqrt(${dotSql("q.e", "q.e")}) * sqrt(${dotSql("n.e", "n.e")})) AS cosine
         | FROM v q JOIN v n ON q.vec_id < 10 AND n.vec_id != q.vec_id),
         |ranked AS (SELECT q_id, n_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
         | FROM scored)
         |SELECT q_id, n_id, cosine, rank FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    "sim_rrf_fusion" ->
      s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |cos AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |  ${cosSql("q.e", "n.e")} AS cosine
         | FROM v q JOIN v n ON q.vec_id < 8 AND n.vec_id != q.vec_id),
         |vr AS (SELECT q_id, n_id, ROW_NUMBER() OVER (
         |  PARTITION BY q_id ORDER BY cosine DESC, n_id) AS v_rank FROM cos),
         |vr20 AS (SELECT * FROM vr WHERE v_rank <= 20),
         |t AS (SELECT doc_id, list_distinct(${TextQueries.toksSql}) AS toks FROM documents),
         |lexs AS (SELECT q.doc_id AS q_id, n.doc_id AS n_id,
         |  len(list_intersect(n.toks, q.toks)) AS ovl
         | FROM t q JOIN t n ON q.doc_id < 8 AND n.doc_id != q.doc_id),
         |lr AS (SELECT q_id, n_id, ROW_NUMBER() OVER (
         |  PARTITION BY q_id ORDER BY ovl DESC, n_id) AS l_rank FROM lexs),
         |lr20 AS (SELECT * FROM lr WHERE l_rank <= 20),
         |f AS (SELECT COALESCE(v.q_id, l.q_id) AS q_id,
         |  COALESCE(v.n_id, l.n_id) AS n_id,
         |  COALESCE(1.0::DOUBLE / (60 + v.v_rank), 0.0)
         |    + COALESCE(1.0::DOUBLE / (60 + l.l_rank), 0.0) AS rrf
         | FROM vr20 v FULL OUTER JOIN lr20 l
         |   ON v.q_id = l.q_id AND v.n_id = l.n_id),
         |r AS (SELECT q_id, n_id, rrf, ROW_NUMBER() OVER (
         |  PARTITION BY q_id ORDER BY rrf DESC, n_id) AS rank FROM f)
         |SELECT q_id, n_id, rrf, rank FROM r WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin,

    "sim_range_search" ->
      s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings)
         |SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |  ${dotSql("q.e", "n.e")} /
         |   (sqrt(${dotSql("q.e", "q.e")}) * sqrt(${dotSql("n.e", "n.e")})) AS cosine
         |FROM v q JOIN v n ON q.vec_id < 10 AND n.vec_id != q.vec_id
         |WHERE ${dotSql("q.e", "n.e")} /
         |   (sqrt(${dotSql("q.e", "q.e")}) * sqrt(${dotSql("n.e", "n.e")})) >= 0.3
         |ORDER BY q_id, n_id""".stripMargin,

    "sim_ivf_assign" ->
      s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |c AS (SELECT vec_id AS c_id, e AS c_e FROM v WHERE vec_id % 32 = 0),
         |scored AS (SELECT v.vec_id AS id, c.c_id,
         |  ${dotSql("v.e", "c.c_e")} /
         |   (sqrt(${dotSql("v.e", "v.e")}) * sqrt(${dotSql("c.c_e", "c.c_e")})) AS cosine
         | FROM v CROSS JOIN c),
         |ranked AS (SELECT id, c_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY cosine DESC, c_id) AS rn
         | FROM scored)
         |SELECT id, c_id, cosine FROM ranked WHERE rn = 1 ORDER BY id""".stripMargin,

    "sim_quantize" ->
      """WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
        |b AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM v),
        |x AS (SELECT vec_id, mn, mx, unnest(e) AS xv,
        |       unnest(generate_series(1, len(e))) AS p FROM b)
        |SELECT vec_id, (p - 1)::INT AS pos,
        | CASE WHEN mx = mn THEN 0
        |      ELSE floor((xv - mn) / (mx - mn) * 255)::INT END AS q
        |FROM x ORDER BY vec_id, pos""".stripMargin,

    // IVF assignment/probing (full-vector cosine) composed with the PQ
    // encode + LUT + ADC ranking — candidates restricted to the probed
    // inverted lists before any code is scored
    "sim_ivfpq_search" ->
      s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |c64 AS (SELECT vec_id AS c_id, e AS c_e FROM v WHERE vec_id % 32 = 0),
         |asg AS (SELECT id, c_id FROM (
         |  SELECT v.vec_id AS id, c64.c_id,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${cosSql("v.e", "c64.c_e")} DESC, c64.c_id) AS rn
         |  FROM v CROSS JOIN c64) WHERE rn = 1),
         |qf AS (SELECT vec_id AS q_id, e AS q_e FROM v WHERE vec_id < 10),
         |probes AS (SELECT q_id, c_id FROM (
         |  SELECT qf.q_id, c64.c_id,
         |    ROW_NUMBER() OVER (PARTITION BY qf.q_id
         |      ORDER BY ${cosSql("qf.q_e", "c64.c_e")} DESC, c64.c_id) AS pr
         |  FROM qf CROSS JOIN c64) WHERE pr <= 8),
         |cand AS (SELECT probes.q_id, asg.id
         |  FROM probes JOIN asg ON probes.c_id = asg.c_id
         |  WHERE asg.id != probes.q_id),
         |s AS (SELECT vec_id, g.m AS sub_id, list_slice(e, g.m * 8 + 1, g.m * 8 + 8) AS sv
         |      FROM v CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS m) g),
         |c AS (SELECT vec_id AS c_id, sub_id, sv AS cv FROM s
         |      WHERE vec_id % 32 = 0 AND vec_id < 512),
         |d AS (SELECT s.vec_id AS id, s.sub_id, c.c_id,
         |  ${dotSql("s.sv", "s.sv")} - 2.0 * ${dotSql("s.sv", "c.cv")}
         |    + ${dotSql("c.cv", "c.cv")} AS d2
         | FROM s JOIN c ON s.sub_id = c.sub_id),
         |codes AS (SELECT id, sub_id, c_id AS code FROM d
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY id, sub_id ORDER BY d2, c_id) = 1),
         |q AS (SELECT vec_id AS q_id, sub_id, sv AS qv FROM s WHERE vec_id < 10),
         |lut AS (SELECT q.q_id, q.sub_id, c.c_id,
         |  ${dotSql("q.qv", "q.qv")} - 2.0 * ${dotSql("q.qv", "c.cv")}
         |    + ${dotSql("c.cv", "c.cv")} AS d2q
         | FROM q JOIN c ON q.sub_id = c.sub_id),
         |per AS (SELECT l.q_id, x.id, x.sub_id, l.d2q
         | FROM codes x JOIN cand ON cand.id = x.id
         | JOIN lut l ON x.sub_id = l.sub_id AND x.code = l.c_id
         |   AND l.q_id = cand.q_id),
         |piv AS (SELECT q_id, id,
         |  ${(0 until 8).map(i => s"MAX(CASE WHEN sub_id = $i THEN d2q END) AS d$i").mkString(", ")}
         | FROM per GROUP BY q_id, id),
         |adc AS (SELECT q_id, id, ${(0 until 8).map(i => s"d$i").mkString(" + ")} AS adc_d2 FROM piv),
         |ranked AS (SELECT q_id, id AS n_id, adc_d2,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_d2, id) AS rank FROM adc)
         |SELECT q_id, n_id, adc_d2, rank FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    "sim_pq_search" ->
      s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |s AS (SELECT vec_id, g.m AS sub_id, list_slice(e, g.m * 8 + 1, g.m * 8 + 8) AS sv
         |      FROM v CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS m) g),
         |c AS (SELECT vec_id AS c_id, sub_id, sv AS cv FROM s
         |      WHERE vec_id % 32 = 0 AND vec_id < 512),
         |d AS (SELECT s.vec_id AS id, s.sub_id, c.c_id,
         |  ${dotSql("s.sv", "s.sv")} - 2.0 * ${dotSql("s.sv", "c.cv")}
         |    + ${dotSql("c.cv", "c.cv")} AS d2
         | FROM s JOIN c ON s.sub_id = c.sub_id),
         |codes AS (SELECT id, sub_id, c_id AS code FROM d
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY id, sub_id ORDER BY d2, c_id) = 1),
         |q AS (SELECT vec_id AS q_id, sub_id, sv AS qv FROM s WHERE vec_id < 10),
         |lut AS (SELECT q.q_id, q.sub_id, c.c_id,
         |  ${dotSql("q.qv", "q.qv")} - 2.0 * ${dotSql("q.qv", "c.cv")}
         |    + ${dotSql("c.cv", "c.cv")} AS d2q
         | FROM q JOIN c ON q.sub_id = c.sub_id),
         |per AS (SELECT l.q_id, x.id, x.sub_id, l.d2q
         | FROM codes x JOIN lut l ON x.sub_id = l.sub_id AND x.code = l.c_id
         | WHERE x.id <> l.q_id),
         |piv AS (SELECT q_id, id,
         |  ${(0 until 8).map(i => s"MAX(CASE WHEN sub_id = $i THEN d2q END) AS d$i").mkString(", ")}
         | FROM per GROUP BY q_id, id),
         |adc AS (SELECT q_id, id, ${(0 until 8).map(i => s"d$i").mkString(" + ")} AS adc_d2 FROM piv),
         |ranked AS (SELECT q_id, id AS n_id, adc_d2,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_d2, id) AS rank FROM adc)
         |SELECT q_id, n_id, adc_d2, rank FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    "sim_pq_encode" ->
      s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |s AS (SELECT vec_id, g.m AS sub_id, list_slice(e, g.m * 8 + 1, g.m * 8 + 8) AS sv
         |      FROM v CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS m) g),
         |c AS (SELECT vec_id AS c_id, sub_id, sv AS cv FROM s
         |      WHERE vec_id % 32 = 0 AND vec_id < 512),
         |d AS (SELECT s.vec_id AS id, s.sub_id, c.c_id,
         |  ${dotSql("s.sv", "s.sv")} - 2.0 * ${dotSql("s.sv", "c.cv")}
         |    + ${dotSql("c.cv", "c.cv")} AS d2
         | FROM s JOIN c ON s.sub_id = c.sub_id)
         |SELECT id, sub_id, c_id AS code, d2 FROM d
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY id, sub_id ORDER BY d2, c_id) = 1
         |ORDER BY id, sub_id""".stripMargin,

    // entry scoring + three expand/score/keep-8 rounds over the same
    // blocked ∪ pseudo-random graph, replayed round by round
    "sim_graph_search" ->
      s"""WITH $graphSearchCtes
         |SELECT q_id, id AS n_id, cosine, rank FROM b3 WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    "sim_ann_persist" ->
      s"""WITH $annPersistCtes
         |SELECT q_id, id AS n_id, cosine, rank FROM b3 WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    "sim_ann_optimize" ->
      s"""WITH $annOptimizeCtes
         |SELECT q_id, id AS n_id, cosine, rank FROM fb3 WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    "sim_ann_delete" ->
      s"""WITH $annDeleteCtes
         |SELECT q_id, id AS n_id, cosine, rank FROM fb3 WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    // both dispatch regimes replayed: exact top-5 over the label-3
    // subset, and the 20-wide beam over the seed graph → parity filter →
    // re-rank to 5
    "sim_ann_filtered" ->
      s"""WITH $annFilteredCtes
         |SELECT * FROM (
         |  SELECT 'eq' AS phase, 'exact' AS mode, q_id, n_id, cosine, rank
         |   FROM xr WHERE rank <= 5
         |  UNION ALL
         |  SELECT 'parity' AS phase, 'beam' AS mode, q_id, id AS n_id,
         |    cosine, rank FROM pf WHERE rank <= 5
         |  UNION ALL
         |  SELECT 'range' AS phase, 'exact' AS mode, q_id, n_id, cosine,
         |    rank FROM rgr WHERE rank <= 5)
         |ORDER BY phase, q_id, rank""".stripMargin,

    "sim_sql_surface" ->
      s"""WITH v AS (SELECT vec_id, label, [x::DOUBLE for x in embedding] AS e FROM embeddings)
         |SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         |  ${cosSql("a.e", "b.e")} AS cosine
         |FROM v a JOIN v b ON a.label = b.label AND a.vec_id != b.vec_id
         |WHERE a.vec_id < 5
         |ORDER BY q_id, n_id""".stripMargin,

    // the beam replay joined against the exact scan — recall@5 per query
    "sim_graph_recall" ->
      s"""WITH $graphSearchCtes,
         |ex AS (SELECT qf.q_id, x.vec_id AS id,
         |  ${cosSql("qf.q_e", "x.e")} AS cosine
         | FROM qf CROSS JOIN v x WHERE x.vec_id != qf.q_id),
         |exact AS (SELECT q_id, id FROM (
         |  SELECT q_id, id, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cosine DESC, id) AS rank FROM ex) WHERE rank <= 5),
         |got AS (SELECT q_id, id FROM b3 WHERE rank <= 5),
         |hits AS (SELECT exact.q_id, COUNT(got.id) AS n_hit
         | FROM exact LEFT JOIN got
         |   ON got.q_id = exact.q_id AND got.id = exact.id
         | GROUP BY exact.q_id)
         |SELECT q_id, n_hit, n_hit::DOUBLE / 5.0 AS recall
         |FROM hits ORDER BY q_id""".stripMargin,

    // seed graph (label-blocked top-3 ∪ arithmetic pseudo-random links) →
    // symmetrize → two-hop expansion → exact re-score → re-rank, stepwise
    "sim_nn_descent" ->
      s"""WITH v AS (SELECT vec_id, label, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${dotSql("a.e", "b.e")} /
         |   (sqrt(${dotSql("a.e", "a.e")}) * sqrt(${dotSql("b.e", "b.e")})) AS cosine
         | FROM v a JOIN v b ON a.label = b.label AND a.vec_id != b.vec_id),
         |blocked AS (SELECT a_id, b_id FROM (
         |  SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id
         |    ORDER BY cosine DESC, b_id) AS rank FROM p) WHERE rank <= 3),
         |nq AS (SELECT COUNT(*) AS n FROM v),
         |rnd AS (SELECT a.vec_id AS a_id,
         |  (a.vec_id * 131 + t.t * 9973) % nq.n AS b_id
         | FROM v a CROSS JOIN (SELECT unnest([1, 2, 3]) AS t) t CROSS JOIN nq
         | WHERE (a.vec_id * 131 + t.t * 9973) % nq.n != a.vec_id),
         |seed AS (SELECT a_id, b_id FROM blocked
         |  UNION ALL SELECT a_id, b_id FROM rnd),
         |und AS (SELECT DISTINCT a_id, b_id FROM (
         |  SELECT a_id, b_id FROM seed
         |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM seed)),
         |nn AS (SELECT e1.a_id, e2.b_id FROM und e1
         |  JOIN und e2 ON e1.b_id = e2.a_id WHERE e1.a_id != e2.b_id),
         |cand AS (SELECT DISTINCT a_id, b_id FROM (
         |  SELECT a_id, b_id FROM und UNION ALL SELECT a_id, b_id FROM nn)),
         |sc AS (SELECT c.a_id, c.b_id,
         |  ${dotSql("a.e", "b.e")} /
         |   (sqrt(${dotSql("a.e", "a.e")}) * sqrt(${dotSql("b.e", "b.e")})) AS cosine
         | FROM cand c JOIN v a ON a.vec_id = c.a_id JOIN v b ON b.vec_id = c.b_id),
         |r AS (SELECT a_id, b_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rank
         | FROM sc)
         |SELECT a_id, b_id, cosine, rank FROM r WHERE rank <= 3
         |ORDER BY a_id, rank""".stripMargin,

    "sim_knn_join" ->
      s"""WITH v AS (SELECT vec_id, label, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${dotSql("a.e", "b.e")} /
         |   (sqrt(${dotSql("a.e", "a.e")}) * sqrt(${dotSql("b.e", "b.e")})) AS cosine
         | FROM v a JOIN v b ON a.label = b.label AND a.vec_id != b.vec_id),
         |r AS (SELECT a_id, b_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rank
         | FROM p)
         |SELECT a_id, b_id, cosine, rank FROM r WHERE rank <= 3
         |ORDER BY a_id, rank""".stripMargin,

    "mm_meta" ->
      """SELECT doc_id AS id, 'text/plain' AS mime_type,
        | octet_length(text::BLOB) AS byte_len, md5(text) AS content_hash
        |FROM documents ORDER BY id""".stripMargin,

    "mm_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,

    // the FakeDecoder's arithmetic (16 + (16*h) % 256 on the first md5
    // bytes) is reproducible in SQL, so even the mapPartitions stub decode
    // path gets a value-level oracle.
    "mm_features" ->
      """SELECT doc_id AS id, octet_length(text::BLOB) AS "byteLen",
        | 16 + (16 * ('0x' || substring(md5(text), 1, 2))::INT) % 256 AS width,
        | 16 + (16 * ('0x' || substring(md5(text), 3, 2))::INT) % 256 AS height,
        | md5(text) AS "contentHash"
        |FROM documents ORDER BY id""".stripMargin,

    // the resize stub's dims/scales/hash arithmetic is reproducible in
    // SQL, so the batched preprocessing path gets a value-level oracle
    "mm_resize" ->
      """WITH m AS (SELECT doc_id AS id, md5(text) AS hex FROM documents),
        |d AS (SELECT id, hex,
        |  16 + (16 * ('0x' || substring(hex, 1, 2))::INT) % 256 AS ow,
        |  16 + (16 * ('0x' || substring(hex, 3, 2))::INT) % 256 AS oh FROM m)
        |SELECT id, ow AS "origW", oh AS "origH", 64 AS "outW", 64 AS "outH",
        | 64.0 / ow AS "scaleX", 64.0 / oh AS "scaleY",
        | md5(hex || ':64x64') AS "resizedHash"
        |FROM d ORDER BY id""".stripMargin,

    "mm_shard_pack" ->
      """WITH m AS (SELECT doc_id AS id, lang, octet_length(text::BLOB) AS byte_len
        |  FROM documents),
        |p AS (SELECT id, lang, byte_len,
        |  COALESCE(SUM(byte_len) OVER (PARTITION BY lang ORDER BY id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        | FROM m)
        |SELECT lang, CAST(FLOOR(prefix / 4096.0) AS BIGINT) AS shard,
        | COUNT(*) AS n_items, SUM(byte_len)::BIGINT AS shard_bytes,
        | MIN(id) AS first_id, MAX(id) AS last_id
        |FROM p GROUP BY lang, shard ORDER BY lang, shard""".stripMargin,

    "mm_shard_index" ->
      """WITH m AS (SELECT doc_id AS id, lang, octet_length(text::BLOB) AS byte_len
        |  FROM documents),
        |p AS (SELECT id, lang, byte_len,
        |  COALESCE(SUM(byte_len) OVER (PARTITION BY lang ORDER BY id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        | FROM m),
        |sh AS (SELECT id, lang, byte_len, prefix,
        |  CAST(FLOOR(prefix / 4096.0) AS BIGINT) AS shard FROM p)
        |SELECT lang, shard, id,
        | (prefix - MIN(prefix) OVER (PARTITION BY lang, shard))::BIGINT
        |   AS byte_offset,
        | byte_len
        |FROM sh ORDER BY lang, shard, id""".stripMargin,

    "mm_shard_payload" ->
      """WITH m AS (SELECT doc_id AS id, lang, text,
        |  octet_length(text::BLOB) AS byte_len FROM documents),
        |p AS (SELECT id, lang, text, byte_len,
        |  COALESCE(SUM(byte_len) OVER (PARTITION BY lang ORDER BY id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        | FROM m)
        |SELECT lang, CAST(FLOOR(prefix / 4096.0) AS BIGINT) AS shard,
        | COUNT(*) AS n_items, SUM(byte_len)::BIGINT AS shard_bytes,
        | md5(string_agg(text, '' ORDER BY id)) AS payload_md5
        |FROM p GROUP BY lang, shard ORDER BY lang, shard""".stripMargin,

    // the oracle hashes the ORIGINAL member text — equality proves the
    // byte-offset extraction reproduced every sampled member exactly
    "mm_shard_read" ->
      """WITH m AS (SELECT doc_id AS id, lang, text,
        |  octet_length(text::BLOB) AS byte_len FROM documents),
        |p AS (SELECT id, lang, text, byte_len,
        |  COALESCE(SUM(byte_len) OVER (PARTITION BY lang ORDER BY id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        | FROM m),
        |sh AS (SELECT id, lang, text, byte_len, prefix,
        |  CAST(FLOOR(prefix / 4096.0) AS BIGINT) AS shard FROM p),
        |off AS (SELECT id, lang, text, byte_len, shard,
        |  (prefix - MIN(prefix) OVER (PARTITION BY lang, shard))::BIGINT
        |    AS byte_offset
        | FROM sh)
        |SELECT lang, shard, id, byte_offset, byte_len,
        | md5(text) AS member_md5
        |FROM off WHERE id % 7 = 0 ORDER BY lang, shard, id""".stripMargin,

    "sim_mrl_rerank" ->
      s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |b AS (SELECT vec_id, e, list_slice(e, 1, 16) AS p FROM v),
         |q AS (SELECT vec_id AS q_id, e AS q_e, p AS q_p FROM b WHERE vec_id < 10),
         |coarse AS (SELECT q.q_id, n.vec_id AS n_id, n.e AS n_e, q.q_e,
         |  ROW_NUMBER() OVER (PARTITION BY q.q_id
         |    ORDER BY ${cosSql("n.p", "q.q_p")} DESC, n.vec_id) AS crank
         | FROM b n JOIN q ON n.vec_id != q.q_id),
         |fine AS (SELECT q_id, n_id, ${cosSql("n_e", "q_e")} AS cosine,
         |  ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY ${cosSql("n_e", "q_e")} DESC, n_id) AS rank
         | FROM coarse WHERE crank <= 32)
         |SELECT q_id, n_id, cosine, rank FROM fine WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    "sim_cluster_purity" ->
      s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |c AS (SELECT vec_id AS c_id, e AS c_e FROM v WHERE vec_id % 32 = 0),
         |scored AS (SELECT v.vec_id AS id, c.c_id,
         |  ${dotSql("v.e", "c.c_e")} /
         |   (sqrt(${dotSql("v.e", "v.e")}) * sqrt(${dotSql("c.c_e", "c.c_e")})) AS cosine
         | FROM v CROSS JOIN c),
         |asg AS (SELECT id, c_id FROM (SELECT id, c_id,
         |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY cosine DESC, c_id) AS rn
         | FROM scored) WHERE rn = 1),
         |j AS (SELECT a.c_id, e.label FROM asg a
         |  JOIN embeddings e ON e.vec_id = a.id),
         |cnt AS (SELECT c_id, label, COUNT(*) AS n FROM j GROUP BY 1, 2),
         |tot AS (SELECT c_id, COUNT(*) AS n_members FROM j GROUP BY 1),
         |top AS (SELECT c_id, label AS top_label, n AS n_top FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_id
         |    ORDER BY n DESC, label) AS rn FROM cnt) WHERE rn = 1)
         |SELECT t.c_id, tot.n_members, t.top_label, t.n_top,
         |  t.n_top::DOUBLE / tot.n_members::DOUBLE AS purity
         |FROM top t JOIN tot USING (c_id) ORDER BY c_id""".stripMargin,

    "sim_dim_stats" ->
      """WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
        |x AS (SELECT vec_id, unnest(e) AS xv,
        |  unnest(generate_series(1, len(e))) AS p FROM v)
        |SELECT (p - 1)::INT AS pos, COUNT(*) AS n,
        | MIN(xv) AS min_v, MAX(xv) AS max_v,
        | list_reduce(list_prepend(0.0, list(xv ORDER BY vec_id)),
        |   (a, b) -> a + b) / COUNT(*) AS mean_v
        |FROM x GROUP BY p ORDER BY pos""".stripMargin,

    "sim_kmeans_step" ->
      s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
         |c AS (SELECT vec_id AS c_id, e AS c_e FROM v WHERE vec_id % 32 = 0),
         |asg AS (SELECT id, c_id, e FROM (
         |  SELECT v.vec_id AS id, v.e, c.c_id,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${cosSql("v.e", "c.c_e")} DESC, c.c_id) AS rn
         |  FROM v CROSS JOIN c) WHERE rn = 1),
         |x AS (SELECT id, c_id, unnest(e) AS xv,
         |  unnest(generate_series(1, len(e))) AS p FROM asg),
         |cum AS (SELECT id, c_id, p, SUM(xv) OVER (PARTITION BY c_id, p
         |  ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |  AS cumsum FROM x)
         |SELECT c_id, (p - 1)::INT AS pos, COUNT(*) AS n_members,
         | max_by(cumsum, id) / COUNT(*) AS mean
         |FROM cum GROUP BY c_id, p ORDER BY c_id, pos""".stripMargin,

    "sim_kmeans_train" ->
      s"""WITH v AS (SELECT vec_id AS id, [x::DOUBLE for x in embedding] AS e
         |  FROM embeddings),
         |c0 AS (SELECT id AS c_id, e AS c_e FROM v WHERE id % 32 = 0),
         |${lloydIterSql(1, "c0")},
         |${lloydIterSql(2, "c1")},
         |${lloydIterSql(3, "c2")}
         |SELECT 1 AS iter, c_id, n_members, shift FROM s1
         |UNION ALL SELECT 2 AS iter, c_id, n_members, shift FROM s2
         |UNION ALL SELECT 3 AS iter, c_id, n_members, shift FROM s3
         |ORDER BY iter, c_id""".stripMargin,

    // stub frame-count/hash arithmetic is reproducible in SQL, so the
    // 1->N mapPartitions explosion gets a value-level oracle too
    "mm_framesample" ->
      """WITH m AS (SELECT doc_id AS id, octet_length(text::BLOB) AS blen,
        |  md5(text) AS hex FROM documents),
        |f AS (SELECT id, hex,
        |  unnest(generate_series(0, (blen % 8)::INT, 2)) AS fi FROM m)
        |SELECT id, fi::INT AS "frameIdx", md5(hex || ':' || fi) AS "frameHash"
        |FROM f ORDER BY id, "frameIdx"""".stripMargin
  )
}
