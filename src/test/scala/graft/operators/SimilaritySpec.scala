package graft.operators

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("topKCosine: k rows per query, descending, self excluded") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where($"vec_id" < 5)
    val out = Similarity.topKCosine(emb, q, "vec_id", "embedding", k = 3)
      .orderBy("q_id", "rank").collect()
    assert(out.length == 15)
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    byQ.values.foreach { rows =>
      val cos = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.sliding(2).forall { case Array(a, b) => a >= b })
      assert(rows.forall(r => r.getAs[Long]("n_id") != r.getAs[Long]("q_id")))
    }
  }

  test("filteredTopK: selective predicates brute-force exactly, broad " +
    "predicates beam with over-fetch and never leak a non-matching row") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where($"vec_id" < 5)
    val graph = Similarity.knnJoinBlocked(emb, "vec_id", "embedding",
      "label", k = 3).select($"a_id", $"b_id")
    val entries = emb.where($"vec_id" % 100 === 0)
    // SELECTIVE: routed to the exact scan — row-identical to topKCosine
    // over the pre-filtered subset
    val sel = Similarity.filteredTopK(emb, q, "vec_id", "embedding",
      graph, entries, $"label" === 3, k = 4, bruteForceMax = 1000)
    assert(sel.select("mode").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("exact"))
    val twin = Similarity.topKCosine(emb.where($"label" === 3), q,
      "vec_id", "embedding", k = 4)
      .select(lit("exact").as("mode"), $"q_id", $"n_id", $"cosine", $"rank")
    assert(sel.exceptAll(twin).count() == 0 && twin.exceptAll(sel).count() == 0)
    // BROAD: beam path; every answer satisfies the predicate, ranks are
    // a clean re-ranked 1..m per query with m <= k
    val broad = Similarity.filteredTopK(emb, q, "vec_id", "embedding",
      graph, entries, $"vec_id" % 2 === 0, k = 4, bruteForceMax = 10)
    assert(broad.select("mode").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("beam"))
    assert(broad.where($"n_id" % 2 =!= 0).count() == 0,
      "a beam answer escaped the predicate")
    broad.collect().groupBy(_.getAs[Long]("q_id")).values.foreach { rows =>
      val ranks = rows.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.size) && ranks.size <= 4, ranks)
    }
  }

  test("vec_dot: mismatched lengths yield NULL, equal lengths the exact fold") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)), // 32.0
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0))       // malformed -> NULL, not 14.0
    ).toDF("a", "b")
    val out = df.select(
      graft.expressions.VectorExpressions.vecDot($"a", $"b").as("d")).collect()
    assert(out(0).getDouble(0) == 32.0)
    assert(out(1).isNullAt(0))
    // interpreted path (nullSafeEval, the codegen-fallback route) agrees
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def litArr(xs: Double*) = Literal.create(xs.toArray, ArrayType(DoubleType))
    assert(graft.expressions.DotProduct(litArr(1, 2, 3), litArr(4, 5, 6)).eval(null) == 32.0)
    assert(graft.expressions.DotProduct(litArr(1, 2, 3), litArr(4, 5)).eval(null) == null)
  }

  test("multi-table LSH ANN recall vs brute force (>= 0.6 on random data)") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where($"vec_id" < 20)
    val exact = Similarity.topKCosine(emb, q, "vec_id", "embedding", k = 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.topKCosineLsh(emb, q, "vec_id", "embedding", k = 5,
      nPlanes = 4, nTables = 8)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall")
    // every approx hit must still be a real neighbor pair (subset sanity)
    assert(approx.forall { case (qid, nid) => qid != nid })
  }

  test("IVF ANN: every vector gets exactly one list; probe recall >= 0.5") {
    val emb = Tables.embeddings(spark, dir)
    val nVec = emb.count()
    val cents = IvfIndex.centroids(emb, "vec_id", "embedding", stride = 16)
    val assigned = IvfIndex.assign(emb, cents, "vec_id", "embedding")
    assert(assigned.count() == nVec)
    assert(assigned.select("id").distinct().count() == nVec)

    val q = emb.where($"vec_id" < 20)
    val exact = Similarity.topKCosine(emb, q, "vec_id", "embedding", k = 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ~31 lists at stride 16 over 500 vectors; probing 10 of them is the
    // realistic accuracy/cost point for weakly-clustered random data
    val approx = IvfIndex.topKCosineIvf(emb, q, "vec_id", "embedding", k = 5,
      stride = 16, nProbe = 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
    assert(approx.forall { case (qid, nid) => qid != nid })
  }

  /** Edge-case corpora for the fused assignment, each with its centroid
    * stride: exact ties (0 and 2 identical, 1 equidistant from 0 and 4),
    * a NaN coordinate, a null vector, a null element, a wrong-length
    * vector; a NaN centroid; no centroid at all (every id odd).
    */
  private def edgeCorpora(idType: org.apache.spark.sql.types.DataType) = {
    def v(xs: Double*): Seq[java.lang.Double] = xs.map(Double.box)
    val nan = Double.NaN
    Seq(
      "ties, NaN, null, wrong length" -> RelationalIvf.vectors(spark, idType,
        0L -> v(1, 1), 2L -> v(1, 1), 4L -> v(1, -1), 6L -> v(-2, 0.25),
        1L -> v(1, 0), 3L -> v(nan, 1), 5L -> null, 7L -> v(1, 2, 3),
        9L -> v(0.5, -2), 11L -> Seq(null, 1.0), 13L -> v(-3, 0.5)),
      "NaN centroid" -> RelationalIvf.vectors(spark, idType,
        0L -> v(1, 0), 2L -> v(nan, 1), 1L -> v(0.5, 0.5), 3L -> v(1, -1),
        5L -> null),
      "empty centroid set" -> RelationalIvf.vectors(spark, idType,
        1L -> v(1, 0), 3L -> v(0, 1)))
  }

  test("assign and probes: bit-identical to the relational cross join on " +
    "ties, NaN, null and wrong-length vectors and an empty centroid set") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    for (idType <- Seq(LongType, IntegerType); (name, df) <- edgeCorpora(idType)) {
      val cents = IvfIndex.centroids(df, "vec_id", "embedding", stride = 2)
      val got = IvfIndex.assign(df, cents, "vec_id", "embedding")
      val want = RelationalIvf.assign(df, cents, "vec_id", "embedding")
      assert(got.schema.map(_.dataType) == want.schema.map(_.dataType), name)
      assert(RelationalIvf.rawBits(got) == RelationalIvf.rawBits(want), s"$name ($idType)")
      for (n <- Seq(1, 2, 10)) {
        val pg = IvfIndex.probes(df, cents, "vec_id", "embedding", n)
        val pw = RelationalIvf.probes(df, cents, "vec_id", "embedding", n)
        assert(pg.schema.map(_.dataType) == pw.schema.map(_.dataType), name)
        assert(RelationalIvf.rawBits(pg) == RelationalIvf.rawBits(pw),
          s"$name ($idType) nProbe=$n")
      }
    }
    // the exact ties go to the smallest c_id, and so does a null vector
    val ties = edgeCorpora(LongType).head._2
    val asg = IvfIndex.assign(ties, IvfIndex.centroids(ties, "vec_id", "embedding", 2),
        "vec_id", "embedding")
      .select("id", "c_id", "cosine").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.get(2))).toMap
    assert(asg(1L)._1 == 0L && asg(2L)._1 == 0L && asg(5L) == ((0L, null)) &&
      asg(13L)._1 == 6L, asg)
    // and on real embeddings
    val emb = Tables.embeddings(spark, dir)
    val cents = IvfIndex.centroids(emb, "vec_id", "embedding", stride = 16)
    assert(RelationalIvf.rawBits(IvfIndex.assign(emb, cents, "vec_id", "embedding")) ==
      RelationalIvf.rawBits(RelationalIvf.assign(emb, cents, "vec_id", "embedding")))
    val q = emb.where($"vec_id" < 20)
    assert(RelationalIvf.rawBits(IvfIndex.probes(q, cents, "vec_id", "embedding", 8)) ==
      RelationalIvf.rawBits(RelationalIvf.probes(q, cents, "vec_id", "embedding", 8)))
  }

  test("lloydStep and lloydTrain: bit-identical to the relational window " +
    "formulation on the embeddings table") {
    val emb = Tables.embeddings(spark, dir)
    assert(RelationalIvf.rawBits(IvfIndex.lloydStep(emb, "vec_id", "embedding", 32)) ==
      RelationalIvf.rawBits(RelationalIvf.lloydStep(emb, "vec_id", "embedding", 32)))
    assert(RelationalIvf.rawBits(IvfIndex.lloydTrain(emb, "vec_id", "embedding", 16, 3)) ==
      RelationalIvf.rawBits(RelationalIvf.lloydTrain(emb, "vec_id", "embedding", 16, 3)))
  }

  test("assign: a zero vector raises divide-by-zero under ANSI, as the " +
    "relational division does") {
    val df = RelationalIvf.vectors(spark, org.apache.spark.sql.types.LongType,
      0L -> Seq(1.0, 0.0).map(Double.box), 1L -> Seq(0.0, 0.0).map(Double.box))
    val cents = IvfIndex.centroids(df, "vec_id", "embedding", stride = 2)
    def cause(body: => Any): String = {
      val e = intercept[Exception](body)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" / ")
    }
    assert(cause(IvfIndex.assign(df, cents, "vec_id", "embedding").collect())
      .contains("DIVIDE_BY_ZERO"))
    assert(cause(RelationalIvf.assign(df, cents, "vec_id", "embedding").collect())
      .contains("DIVIDE_BY_ZERO"))
  }

  test("assign: one id on two rows with different vectors gives one row " +
    "per input row, each with its own nearest centroid") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (7L, Array(0.9f, 0.1f)), (7L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val out = IvfIndex.assign(df, IvfIndex.centroids(df, "vec_id", "embedding", 2),
        "vec_id", "embedding")
      .where($"id" === 7L).select($"v"(0).as("x"), $"c_id").collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(out == Map(0.9f.toDouble -> 0L, 0.1f.toDouble -> 2L))
  }

  test("assign: the executed plan is map-only — no exchange, no join, no aggregate") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val emb = Tables.embeddings(spark, dir)
    val out = IvfIndex.assign(emb, IvfIndex.centroids(emb, "vec_id", "embedding", 16),
      "vec_id", "embedding")
    out.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case other => other +: other.children.flatMap(nodes)
    }
    val all = nodes(out.queryExecution.executedPlan)
    val bad = all.filter {
      case _: Exchange | _: BaseJoinExec | _: BaseAggregateExec => true
      case _ => false
    }
    assert(bad.isEmpty, out.queryExecution.executedPlan.treeString)
  }

  test("layeredBeamSearch: a failing entry beam leaves no active job; a bad " +
    "beam width fails before any job starts") {
    import org.apache.spark.sql.graftbridge.Bridge
    val sc = spark.sparkContext
    val emb = Tables.embeddings(spark, dir)
    val graph = Similarity.knnJoinBlocked(emb, "vec_id", "embedding", blockCol = "label", k = 3)
      .select("a_id", "b_id")
    // zero query vectors: the entry beam's cosine divides by zero (ANSI)
    // while the level-graph builds over the corpus are still running
    val zeros = emb.where($"vec_id" < 3).withColumn("embedding", transform($"embedding", _ * 0.0f))
    val e = intercept[Exception](Similarity.layeredBeamSearch(emb, zeros,
      "vec_id", "embedding", graph, blockCol = "label"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("DIVIDE_BY_ZERO")), e)
    Bridge.drainListeners(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      s"jobs still running: ${sc.statusTracker.getActiveJobIds.mkString(",")}")
    val jobsBefore = sc.statusTracker.getJobIdsForGroup(null).length
    intercept[IllegalArgumentException](Similarity.layeredBeamSearch(emb,
      emb.where($"vec_id" < 3), "vec_id", "embedding", graph, blockCol = "label",
      upperBeam = 9, beamWidth = 8))
    Bridge.drainListeners(sc)
    assert(sc.statusTracker.getJobIdsForGroup(null).length == jobsBefore)
  }

  test("pqEncode: codebook vectors self-encode with d2 = 0; full coverage; codes are centroid ids") {
    val emb = Tables.embeddings(spark, dir)
    val out = IvfIndex.pqEncode(emb, "vec_id", "embedding", m = 8, dim = 64, stride = 16)
      .collect()
    val nVec = emb.count()
    assert(out.length == nVec * 8)
    val centroidIds = emb.where($"vec_id" % 16 === 0 && $"vec_id" < 16 * 16)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out.forall(r => centroidIds.contains(r.getAs[Long]("code"))))
    assert(out.forall(r => r.getAs[Double]("d2") >= 0.0))
    // a centroid's own subvectors are at distance exactly 0 (x - 2x + x
    // is IEEE-exact zero), and the min-id tiebreak can only pick an id
    // at or below its own
    out.filter(r => centroidIds.contains(r.getAs[Long]("id"))).foreach { r =>
      assert(r.getAs[Double]("d2") == 0.0,
        s"centroid ${r.getAs[Long]("id")} sub ${r.getAs[Int]("sub_id")} d2 != 0")
      assert(r.getAs[Long]("code") <= r.getAs[Long]("id"))
    }
  }

  test("pqSearchAdc: codebook queries find themselves-as-codes; distances ascend; recall sane") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where($"vec_id" < 20)
    val out = IvfIndex.pqSearchAdc(emb, q, "vec_id", "embedding",
      m = 8, dim = 64, stride = 16, topK = 5)
      .orderBy("q_id", "rank").collect()
    assert(out.length == 20 * 5)
    out.groupBy(_.getAs[Long]("q_id")).values.foreach { rows =>
      val d = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("adc_d2"))
      assert(d.sliding(2).forall { case Array(a, b) => a <= b })
      assert(rows.forall(r => r.getAs[Long]("n_id") != r.getAs[Long]("q_id")))
      assert(rows.forall(_.getAs[Double]("adc_d2") >= 0.0))
    }
    // PQ-reconstruction recall vs exact L2-via-cosine neighbors: coarse
    // 8-byte codes on random data — sanity bound, not a quality target
    val exact = Similarity.topKCosine(emb, q, "vec_id", "embedding", k = 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = out.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = (exact intersect adc).size.toDouble / exact.size
    // measured 0.14 on this data: random unit vectors have no cluster
    // structure for a 16-centroid stride codebook to exploit — the bound
    // guards against a BROKEN lookup (recall ~1/100 at random), not quality
    assert(recall >= 0.1, s"recall=$recall")
  }

  test("nnDescentStep: never worse than the seed; random seed links let neighbors cross blocks") {
    val emb = Tables.embeddings(spark, dir)
    val seed = Similarity.knnJoinBlocked(emb, "vec_id", "embedding", "label", k = 3)
    // a PURELY block-local seed can never cross blocks: two-hop expansion
    // of within-block edges stays within the block
    val localOnly = Similarity.nnDescentStep(emb, "vec_id", "embedding",
      seed.select("a_id", "b_id"), k = 3).collect()
    val labelOf = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(localOnly.forall(r =>
      labelOf(r.getAs[Long]("a_id")) == labelOf(r.getAs[Long]("b_id"))))
    // with cross-block seed links (the real algorithm's random init), the
    // expansion DOES surface cross-label neighbors
    val n = emb.count()
    val rand = emb.select($"vec_id".as("a_id"))
      .select($"a_id", explode(array((1 to 3).map(t =>
        ($"a_id" * 131 + lit(t * 9973)) % n): _*)).as("b_id"))
      .where($"b_id" =!= $"a_id")
    val refined = Similarity.nnDescentStep(emb, "vec_id", "embedding",
      seed.select("a_id", "b_id").unionAll(rand), k = 3).collect()
    val crossLabel = refined.count(r =>
      labelOf(r.getAs[Long]("a_id")) != labelOf(r.getAs[Long]("b_id")))
    assert(crossLabel > 0, "no neighbor crossed blocks despite random seed links")
    // monotone improvement: every seed edge stays in the candidate set, so
    // each node's refined best cosine can only match or beat the seed's
    val seedBest = seed.where($"rank" === 1)
      .select("a_id", "cosine").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val refinedBest = refined.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("a_id") -> r.getAs[Double]("cosine")).toMap
    seedBest.foreach { case (a, c) =>
      assert(refinedBest(a) >= c, s"node $a regressed: ${refinedBest(a)} < $c")
    }
    // bounded output, descending per node
    refined.groupBy(_.getAs[Long]("a_id")).values.foreach { rows =>
      assert(rows.length <= 3)
      val cos = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
  }

  test("knnJoinBlocked: <= k in-block neighbors per row, descending, agrees with brute force") {
    val emb = Tables.embeddings(spark, dir)
    val out = Similarity.knnJoinBlocked(emb, "vec_id", "embedding", "label", k = 3)
      .collect()
    val labelOf = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byA = out.groupBy(_.getAs[Long]("a_id"))
    byA.foreach { case (aId, rows) =>
      assert(rows.length <= 3)
      assert(rows.forall(r => labelOf(r.getAs[Long]("b_id")) == labelOf(aId)))
      val cos = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
    // brute-force parity for one block: restrict the corpus to one label
    // and the blocked join must equal topKCosine over that subset
    val one = emb.where($"label" === 0)
    val brute = Similarity.topKCosine(one, one, "vec_id", "embedding", k = 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = out.filter(r => labelOf(r.getAs[Long]("a_id")) == 0)
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(blocked == brute)
  }
}
