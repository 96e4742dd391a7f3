package graft.operators

import scala.jdk.CollectionConverters._

import graft.expressions.{CentroidSet, VectorExpressions}
import graft.functions.Vectors
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** IVF (inverted-file) approximate nearest neighbor — the classic
  * centroid-partitioned index (the structure behind FAISS's IVF family),
  * expressed relationally:
  *
  *   1. pick centroids (deterministic stride sample — at 100 TB this is a
  *      `TABLESAMPLE` + optional k-means refinement; stride keeps the
  *      pipeline reproducible for verification),
  *   2. assign every corpus vector to its max-cosine centroid — the
  *      "inverted lists", one linear pass over the corpus with the
  *      centroid set broadcast,
  *   3. a query probes only the `nProbe` centroids closest to it, and
  *      brute-forces the union of those lists.
  *
  * Scale shape: the centroid set (C = #centroids, typically √N) is
  * collected to the driver and rides into every task inside one
  * [[graft.expressions.NearestCentroid]] expression, so corpus-side work
  * is O(N·C) dot products in a map-only projection — no shuffle, no join;
  * the probe join shuffles only candidate lists for the probed centroids.
  * Complementary to `Similarity.topKCosineLsh`: IVF gives tunable
  * list-level pruning and a reusable materialized index; LSH avoids the
  * centroid-build pass.
  */
object IvfIndex {

  /** Per-subspace explode: (outId, sub_id, sv) — each vector split into `m`
    * contiguous `subDim`-slices. The single source of truth for the PQ
    * subvector layout shared by encode, ADC search and IVF-PQ: a drifted
    * copy would decode codes against a different slicing, a correctness
    * failure the compiler can't catch.
    */
  private def subvectors(df: DataFrame, idCol: String, vecCol: String,
                         outId: String, m: Int, subDim: Int): DataFrame =
    df.select(col(idCol).as(outId), Vectors.toDoubleArray(col(vecCol)).as("__v"))
      .select(col(outId), posexplode(array((0 until m).map(i =>
        slice(col("__v"), i * subDim + 1, subDim)): _*)).as(Seq("sub_id", "sv")))

  /** The PQ codebook: the deterministic stride subset
    * (id % stride == 0 && id < k·stride) sliced per subspace →
    * (c_id, c_sub, cv). Single source of truth for the codebook-selection
    * rule shared by [[pqEncode]], [[pqSearchAdc]] and [[ivfPqSearch]] — if
    * the rule changes, every ADC LUT follows automatically instead of
    * silently decoding against a different codebook.
    */
  private def pqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                         m: Int, subDim: Int, stride: Long, k: Int): DataFrame =
    subvectors(
        corpus.where(col(idCol) % stride === 0 && col(idCol) < k * stride),
        idCol, vecCol, "c_id", m, subDim)
      .select(col("c_id"), col("sub_id").as("c_sub"), col("sv").as("cv"))

  /** ‖a−b‖² as dot(a,a) − 2·dot(a,b) + dot(b,b): three native DotProduct
    * evaluations whose identical double arithmetic the DuckDB oracle
    * reproduces bit-for-bit.
    */
  private def sqDist(a: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Vectors.dot(a, a) - lit(2.0) * Vectors.dot(a, b) + Vectors.dot(b, b)

  /** Deterministic centroid subset: every `stride`-th id. Output:
    * (c_id, c_v, c_nrm), small enough to collect to the driver.
    */
  def centroids(corpus: DataFrame, idCol: String, vecCol: String,
                stride: Long): DataFrame =
    corpus.where(col(idCol) % stride === 0)
      .select(col(idCol).as("c_id"), Vectors.toDoubleArray(col(vecCol)).as("c_v"))
      .withColumn("c_nrm", Vectors.norm(col("c_v")))

  /** The most doubles a driver-held centroid set may carry: 256 MiB, on
    * the driver and again in every task's copy of the expression. */
  private val MaxCentroidDoubles = 32L * 1024 * 1024

  /** A centroid held on the driver. The vector, its elements and the
    * norm may each be null (a null vector or norm gives null cosines, a
    * null element reads as 0.0); ids are INT or BIGINT widened to Long. */
  private final case class Centroid(id: Long, v: Array[java.lang.Double],
                                    nrm: java.lang.Double)

  /** Collects a (c_id, c_v, c_nrm) frame — [[centroids]]'s shape. */
  private def collectCentroids(cents: DataFrame): (DataType, Seq[Centroid]) = {
    val idType = cents.schema("c_id").dataType
    val cs = cents.select(col("c_id"), Vectors.toDoubleArray(col("c_v")),
        col("c_nrm").cast(DoubleType))
      .collect().toSeq.map { r =>
        require(!r.isNullAt(0), "IvfIndex: centroid ids must be non-null")
        Centroid(r.getAs[Number](0).longValue,
          if (r.isNullAt(1)) null
          else r.getSeq[java.lang.Double](1).toArray,
          if (r.isNullAt(2)) null else r.getDouble(2))
      }
    (idType, cs)
  }

  /** The driver-held set as the expression's flat reference object,
    * guarded in size. */
  private def freeze(idType: DataType, cs: Seq[Centroid]): CentroidSet = {
    val lens = cs.map(c => if (c.v == null || c.nrm == null) -1 else c.v.length).toArray
    val total = lens.map(l => math.max(l, 0).toLong).sum
    require(total <= MaxCentroidDoubles,
      s"centroid set would be ${total * 8 / 1024 / 1024} MiB on the driver " +
        "and in every task; raise the stride (fewer centroids) or shard the corpus")
    val offs = lens.scanLeft(0)((o, l) => o + math.max(l, 0)).init
    val flat = new Array[Double](total.toInt)
    cs.zip(offs).zip(lens).foreach { case ((c, o), l) =>
      var i = 0
      while (i < l) { flat(o + i) = if (c.v(i) == null) 0.0 else c.v(i); i += 1 }
    }
    new CentroidSet(idType, cs.map(_.id).toArray, flat, offs, lens,
      cs.map(c => if (c.nrm == null) 0.0 else c.nrm.doubleValue).toArray)
  }

  private def frozen(cents: DataFrame): CentroidSet = {
    val (idType, cs) = collectCentroids(cents)
    freeze(idType, cs)
  }

  /** (id, v) → (id, v, nrm, c_id, cosine) against a frozen set. */
  private def assignTo(v: DataFrame, set: CentroidSet): DataFrame = {
    val scored = v.withColumn("nrm", Vectors.norm(col("v")))
      .withColumn("__nc", VectorExpressions.nearestCentroid(col("v"), col("nrm"), set))
      .select(col("id"), col("v"), col("nrm"), col("__nc.c_id").as("c_id"),
        col("__nc.cosine").as("cosine"))
    // the expression is null only for an empty set; deciding that here
    // keeps a null filter (which would re-evaluate it) out of the plan
    if (set.size == 0) scored.where(lit(false)) else scored
  }

  private def asVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), Vectors.toDoubleArray(col(vecCol)).as("v"))

  /** Inverted-list assignment: each corpus row to its single max-cosine
    * centroid (ties broken toward the smaller centroid id; a NaN cosine
    * ranks highest and a null one lowest, so a null or wrong-length
    * vector gets the smallest c_id with a null cosine). Output:
    * (id, v, nrm, c_id, cosine), exactly one row per input row — two rows
    * sharing an id are assigned independently, each to its own nearest
    * centroid. An empty centroid set gives no rows.
    *
    * Scale shape: `cents` is collected to the driver (size-guarded) and
    * the assignment is one projection over the corpus — no exchange, no
    * join, no aggregate.
    */
  def assign(corpus: DataFrame, cents: DataFrame, idCol: String,
             vecCol: String): DataFrame =
    assignTo(asVectors(corpus, idCol, vecCol), frozen(cents))

  /** The `nProbe` closest centroids of each query — cosine DESC, then c_id
    * ASC, as [[assign]] ranks them. Output: (q_id, q_v, q_nrm, c_id), up
    * to `nProbe` rows per query.
    *
    * Scale shape: `cents` is collected to the driver and each query is
    * scored against it inside one expression, then exploded — no cross
    * join, no window.
    */
  def probes(queries: DataFrame, cents: DataFrame, idCol: String,
             vecCol: String, nProbe: Int): DataFrame =
    probeWith(queries, frozen(cents), idCol, vecCol, nProbe)

  private def probeWith(queries: DataFrame, set: CentroidSet, idCol: String,
                        vecCol: String, nProbe: Int): DataFrame =
    queries.select(col(idCol).as("q_id"), Vectors.toDoubleArray(col(vecCol)).as("q_v"))
      .withColumn("q_nrm", Vectors.norm(col("q_v")))
      .select(col("q_id"), col("q_v"), col("q_nrm"), explode(
        VectorExpressions.nearestCentroids(col("q_v"), col("q_nrm"), set, nProbe)).as("__p"))
      .select(col("q_id"), col("q_v"), col("q_nrm"), col("__p.c_id").as("c_id"))

  /** Product-quantization encode: split each vector into `m` contiguous
    * subvectors and snap each to its nearest codebook entry by squared L2
    * (ties toward the smaller code id). The codebook is the same
    * deterministic stride subset as [[centroids]], sliced per subspace —
    * at 100 TB it would be k-means-refined, but the assignment plan shape
    * is identical. Output: (id, sub_id, code, d2).
    *
    * Scale shape: the codebook is a FIXED m×k rows (k entries per
    * subspace, independent of corpus size — the defining property of PQ)
    * and broadcast; the corpus side is one linear pass emitting N·m
    * subvector rows, each scored against its subspace's codes — O(N·m·k)
    * codegen'd DotProduct loops, no corpus shuffle except the bounded
    * per-(id, sub) argmin window. ‖a−b‖² is computed as
    * dot(a,a) − 2·dot(a,b) + dot(b,b): three native DotProduct
    * evaluations whose identical double arithmetic the DuckDB oracle
    * reproduces bit-for-bit (a zip_with-difference lambda would interpret
    * per element AND have no oracle-stable ordering).
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               m: Int, dim: Int, stride: Long, k: Int = 16): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val subDim = dim / m
    val corpusSubs = subvectors(corpus, idCol, vecCol, "id", m, subDim)
    val codebook = pqCodebook(corpus, idCol, vecCol, m, subDim, stride, k)
    val scored = corpusSubs.join(broadcast(codebook), col("sub_id") === col("c_sub"))
      .select(col("id"), col("sub_id"), col("c_id"),
        sqDist(col("sv"), col("cv")).as("d2"))
    // argmin per (id, sub) as a partial-aggregating min over (d2, c_id) —
    // same rationale as [[assign]]: collapse the k-way candidate explosion
    // map-side instead of shuffling it through a row_number window.
    // min(struct) reproduces (d2 ASC, c_id ASC) exactly (NaN sorts largest,
    // so it loses the min unless every candidate is NaN — as in the window).
    scored.groupBy(col("id"), col("sub_id"))
      .agg(min(struct(col("d2"), col("c_id"))).as("__m"))
      .select(col("id"), col("sub_id"), col("__m.c_id").as("code"),
        col("__m.d2").as("d2"))
  }

  /** ADC (asymmetric distance computation) top-k search over PQ codes —
    * the query path that completes the IVF/PQ compression story: the
    * corpus is represented ONLY by its m-byte codes ([[pqEncode]]); a
    * query precomputes a (sub_id, code) → squared-distance lookup table
    * against the codebook (Q·m·k doubles — broadcast), and each corpus
    * code row contributes one table lookup. approx_d2(q, x) =
    * Σ_sub ||q_sub − centroid(sub, code_x[sub])||².
    *
    * Scale shape: one broadcast-LUT join over the codes table (linear,
    * never touches the raw vectors), one partial-aggregated shuffle of
    * Q·N subspace rows, then a TWO-STAGE top-k — per-shuffle-partition
    * pruning before the per-query global rank — so no stage funnels a
    * query's full candidate stream through one task.
    *
    * Determinism: the per-(q, id) sum pivots the m subspace distances
    * into columns added in fixed left-to-right order (an unordered
    * SUM(double) is free to re-associate and drift ulps); ties rank by id.
    */
  def pqSearchAdc(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, m: Int, dim: Int, stride: Long,
                  k: Int = 16, topK: Int = 5): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val subDim = dim / m
    val codes = pqEncode(corpus, idCol, vecCol, m, dim, stride, k)
      .select(col("id"), col("sub_id").as("x_sub"), col("code"))
    val codebook = pqCodebook(corpus, idCol, vecCol, m, subDim, stride, k)
    val lut = subvectors(queries, idCol, vecCol, "q_id", m, subDim)
      .join(codebook, col("sub_id") === col("c_sub"))
      .select(col("q_id"), col("sub_id"), col("c_id"),
        sqDist(col("sv"), col("cv")).as("d2q"))
    val perSub = codes.join(broadcast(lut),
        col("x_sub") === col("sub_id") && col("code") === col("c_id"))
      .where(col("id") =!= col("q_id"))
    // fixed-order sum: one column per subspace, added left to right
    val pivoted = perSub.groupBy(col("q_id"), col("id"))
      .pivot("sub_id", 0 until m).agg(first(col("d2q")))
    val adc = pivoted.select(col("q_id"), col("id"),
      (0 until m).map(i => col(i.toString)).reduceLeft(_ + _).as("adc_d2"))
    // stage 1: top-k within each shuffle partition (parallelism stays
    // partition-bound); stage 2: global rank over Q · partitions · topK
    // survivors — every global top-k row is in its partition's local top-k
    val wLocal = Window.partitionBy(col("q_id"), spark_partition_id())
      .orderBy(col("adc_d2").asc, col("id"))
    val wGlobal = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_d2").asc, col("id"))
    adc.withColumn("__lr", row_number().over(wLocal)).where(col("__lr") <= topK)
      .withColumn("rank", row_number().over(wGlobal)).where(col("rank") <= topK)
      .select(col("q_id"), col("id").as("n_id"), col("adc_d2"), col("rank"))
  }

  /** IVF-PQ search — the two prunings composed, which is the FAISS
    * `IVFx,PQy` shape an actual 100 TB vector corpus runs: IVF probing
    * bounds WHICH corpus rows are scored (nProbe inverted lists per query,
    * never the full corpus) and PQ/ADC bounds WHAT is read per scored row
    * (the m-byte code, never the raw vector). [[pqSearchAdc]] alone still
    * scans every code row per query; [[topKCosineIvf]] alone still reads
    * full vectors for the probed lists — this is the missing quadrant.
    *
    * Scale shape: the lists and the probes are projections against the
    * driver-held centroid set ([[assign]], [[probes]]); candidate build is
    * inverted-lists ⋈ broadcast(probes) — corpus-partition-local, no
    * corpus shuffle; scoring joins the codes
    * table on id (both sides corpus-keyed; at scale the codes table is
    * bucketed by id and the join is exchange-free) with the broadcast
    * (q, sub, code) → d² LUT; the per-(q, id) sum is the fixed-order
    * pivot (unordered double SUMs re-associate), and the final top-k is
    * TWO-STAGE (per-partition prune, then the bounded global rank).
    */
  def ivfPqSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, m: Int, dim: Int, stride: Long,
                  k: Int = 16, nProbe: Int = 8, topK: Int = 5): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val subDim = dim / m
    val set = frozen(centroids(corpus, idCol, vecCol, stride))
    val lists = assignTo(asVectors(corpus, idCol, vecCol), set)
      .select(col("id"), col("c_id"))
    val probed = probeWith(queries, set, idCol, vecCol, nProbe)
      .select(col("q_id"), col("c_id"))
    val cand = lists.join(broadcast(probed), Seq("c_id"))
      .where(col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"))
    val codes = pqEncode(corpus, idCol, vecCol, m, dim, stride, k)
      .select(col("id"), col("sub_id").as("x_sub"), col("code"))
    val codebook = pqCodebook(corpus, idCol, vecCol, m, subDim, stride, k)
    val lut = subvectors(queries, idCol, vecCol, "q_id", m, subDim)
      .join(codebook, col("sub_id") === col("c_sub"))
      .select(col("q_id").as("l_q"), col("sub_id"), col("c_id"),
        sqDist(col("sv"), col("cv")).as("d2q"))
    val perSub = codes.join(cand, Seq("id"))
      .join(broadcast(lut),
        col("x_sub") === col("sub_id") && col("code") === col("c_id")
          && col("q_id") === col("l_q"))
    val pivoted = perSub.groupBy(col("q_id"), col("id"))
      .pivot("sub_id", 0 until m).agg(first(col("d2q")))
    val adc = pivoted.select(col("q_id"), col("id"),
      (0 until m).map(i => col(i.toString)).reduceLeft(_ + _).as("adc_d2"))
    val wLocal = Window.partitionBy(col("q_id"), spark_partition_id())
      .orderBy(col("adc_d2").asc, col("id"))
    val wGlobal = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_d2").asc, col("id"))
    adc.withColumn("__lr", row_number().over(wLocal)).where(col("__lr") <= topK)
      .withColumn("rank", row_number().over(wGlobal)).where(col("rank") <= topK)
      .select(col("q_id"), col("id").as("n_id"), col("adc_d2"), col("rank"))
  }

  /** One centroid's members summed per position: `counts(p)` members
    * have a coordinate at p, and `sums(p)` is their left fold from 0.0 in
    * member-id order (null elements skipped; `seen(p)` is false when all
    * were null, and the mean is then null).
    */
  private final class Members(val cId: Long) extends Serializable {
    var counts = new Array[Long](0)
    var sums = new Array[Double](0)
    var seen = new Array[Boolean](0)
    def len: Int = counts.length
    def add(x: ArrayData): Unit = {
      val n = x.numElements()
      if (n > len) {
        counts = java.util.Arrays.copyOf(counts, n)
        sums = java.util.Arrays.copyOf(sums, n)
        seen = java.util.Arrays.copyOf(seen, n)
      }
      var i = 0
      while (i < n) {
        counts(i) += 1
        if (!x.isNullAt(i)) { sums(i) += x.getDouble(i); seen(i) = true }
        i += 1
      }
    }
    def mean(p: Int): java.lang.Double =
      if (seen(p)) sums(p) / counts(p).toDouble else null
  }

  /** The Lloyd means pass over (id, v): the map-only assignment, ONE
    * shuffle on c_id, and per centroid an ordered fold of its members
    * (rows sorted by (c_id, id): the association of the oracle's running
    * SUM window ordered by id). C rows come back to the driver; a
    * centroid none of whose members has a coordinate is absent.
    */
  private def lloydMembers(v: DataFrame, set: CentroidSet): Seq[Members] = {
    val intIds = set.idType == IntegerType
    assignTo(v, set).select(col("c_id"), col("id"), col("v"))
      .repartition(col("c_id"))
      .sortWithinPartitions(col("c_id"), col("id"))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val out = scala.collection.mutable.ArrayBuffer[Members]()
        rows.foreach { r =>
          val cId = if (intIds) r.getInt(0).toLong else r.getLong(0)
          if (out.isEmpty || out.last.cId != cId) out += new Members(cId)
          if (!r.isNullAt(2)) out.last.add(r.getArray(2))
        }
        out.iterator.filter(_.len > 0)
      }
      .collect().toSeq
  }

  private def idValue(idType: DataType, id: Long): Any =
    if (idType == IntegerType) id.toInt else id

  /** One Lloyd (k-means) refinement step over the stride-seeded centroids:
    * assign every vector to its max-cosine centroid, then recompute each
    * centroid as the per-dimension mean of its members. Output exploded as
    * (c_id, pos, n_members, mean) so every recomputed coordinate is
    * oracle-checkable; `n_members` counts the members with a coordinate
    * at `pos`.
    *
    * Scale shape: the seeds are collected to the driver; the assignment
    * is [[assign]]'s map-only projection, followed by ONE shuffle on c_id
    * and a per-centroid fold, and the C folded rows are collected — the
    * driver divides them into means. The fold is ORDERED, left to right in
    * member-id order from 0.0: pinning the association is what makes the
    * float mean reproducible across engines and retries — an unordered
    * SUM(double) is free to re-associate and drift ulps per run. (A
    * decimal-exact unordered sum was measured as a dead end:
    * decimal(38,15)→double conversion itself differs across engines by
    * 1 ulp, so exactness upstream doesn't survive the cast.)
    */
  def lloydStep(corpus: DataFrame, idCol: String, vecCol: String,
                stride: Long): DataFrame = {
    val v = asVectors(corpus, idCol, vecCol)
    val set = frozen(centroids(v, "id", "v", stride))
    val rows = for {
      m <- lloydMembers(v, set)
      p <- 0 until m.len
    } yield Row(idValue(set.idType, m.cId), p, m.counts(p), m.mean(p))
    corpus.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
      StructField("c_id", set.idType, nullable = false),
      StructField("pos", IntegerType, nullable = false),
      StructField("n_members", LongType, nullable = false),
      StructField("mean", DoubleType))))
  }

  /** k-means TRAINING loop: `iters` Lloyd refinements from the stride
    * seeds, emitting a per-iteration convergence trace —
    * (iter, c_id, n_members, shift) where `shift` is ‖c_new − c_old‖²
    * (the quantity a production trainer thresholds to stop early).
    *
    * Scale shape per iteration: the centroids stay on the driver (C ≈ √N
    * vectors, size-guarded), and each iteration is [[lloydStep]]'s pass
    * over the corpus — the map-only assignment, ONE shuffle on c_id, a
    * per-centroid fold and a collect of C rows — after which the driver
    * computes the means, the shifts and the next centroid set. No plan
    * spans iterations and nothing is checkpointed, so nothing grows with
    * `iters`.
    *
    * Determinism: means use [[lloydStep]]'s member-id-pinned fold;
    * `shift` is a pos-pinned left fold from 0.0 of exact squared
    * differences over the positions both vectors have (null if any is
    * null), and `n_members` the largest count over those positions; a
    * centroid that loses every member simply drops out of that
    * iteration's trace and the following assignments (both engines replay
    * the same rule).
    */
  def lloydTrain(corpus: DataFrame, idCol: String, vecCol: String,
                 stride: Long, iters: Int = 3): DataFrame = {
    val v = asVectors(corpus, idCol, vecCol)
    val (idType, seeds) = collectCentroids(centroids(v, "id", "v", stride))
    val trace = scala.collection.mutable.ArrayBuffer[Row]()
    (1 to iters).foldLeft(seeds) { (cents, it) =>
      val old = cents.map(c => c.id -> c.v).toMap
      lloydMembers(v, freeze(idType, cents)).map { m =>
        val means = Array.tabulate(m.len)(m.mean)
        val ov = old(m.cId)
        val n = if (ov == null) 0 else math.min(ov.length, m.len)
        if (n > 0) {
          var nMembers = 0L
          var shift: java.lang.Double = 0.0
          for (p <- 0 until n) {
            nMembers = math.max(nMembers, m.counts(p))
            shift =
              if (shift == null || means(p) == null || ov(p) == null) null
              else {
                val d = means(p) - ov(p)
                shift + d * d
              }
          }
          trace += Row(it, idValue(idType, m.cId), nMembers, shift)
        }
        var sq = 0.0
        means.foreach(x => if (x != null) sq += x * x)
        Centroid(m.cId, means, math.sqrt(sq))
      }
    }
    corpus.sparkSession.createDataFrame(trace.asJava, StructType(Seq(
      StructField("iter", IntegerType, nullable = false),
      StructField("c_id", idType, nullable = false),
      StructField("n_members", LongType, nullable = false),
      StructField("shift", DoubleType))))
  }

  /** Approximate top-k cosine neighbors via IVF probing. `queries` must be
    * small (broadcast). Output: (q_id, n_id, cosine, rank).
    *
    * Scale shape: the centroid set is collected once; the inverted lists
    * ([[assign]]) and the `nProbe` probes per query ([[probes]]) are both
    * projections against it, so the brute-force scoring within the probed
    * lists is one broadcast join of the probes onto the corpus stream,
    * followed by the per-query rank window.
    */
  def topKCosineIvf(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, stride: Long = 32,
                    nProbe: Int = 8): DataFrame = {
    val set = frozen(centroids(corpus, idCol, vecCol, stride))
    val lists = assignTo(asVectors(corpus, idCol, vecCol), set)
      .select(col("id").as("n_id"), col("v").as("n_v"), col("nrm").as("n_nrm"),
        col("c_id"))
    // brute-force within the probed lists only
    val scored = lists.join(broadcast(probeWith(queries, set, idCol, vecCol, nProbe)),
        Seq("c_id"))
      .where(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (Vectors.dot(col("q_v"), col("n_v")) /
          (col("q_nrm") * col("n_nrm"))).as("cosine"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
