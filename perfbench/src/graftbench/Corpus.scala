package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.{MinHashExpressions, TextExpressions}
import graft.functions.Text
import graft.operators.{Dedup, IvfIndex, Similarity}

/** `corpus`: training-data batch work, with the lakehouse bypassed.
  *
  * Setup generates a seeded corpus with a fixed share of near-duplicates
  * (word drops and an adjacent swap of a base document, Jaccard >= 0.6 on
  * word 3-grams) and exact copies, plus a set of 64-d vectors in Gaussian
  * clusters with separate query vectors, writes them as parquet, and
  * computes the exact cosine top-10 of every query
  * (`Similarity.topKCosine`). A cycle runs quality columns, exact dedup,
  * MinHash-LSH and prefix-filter near-dup joins, k-means training, IVF
  * assignment and an IVF top-10 search.
  *
  * Correctness: exact dedup finds exactly the injected copies, the prefix
  * join (exact) finds every injected near-duplicate pair, and the
  * MinHash-LSH recall of injected pairs and the IVF recall@10 against the
  * exact top-10 clear their floors.
  */
final class Corpus(ctx: Ctx) extends Workload {
  import Corpus._
  private val spark = ctx.spark

  private var ns = ""
  private var injected = Set.empty[(Long, Long)]
  private var truth = Map.empty[Long, Set[Long]]
  private val results = mutable.Map[String, mutable.ArrayBuffer[String]]()
  private var lastMinhash = Set.empty[(Long, Long)]
  private var lastPrefix = Set.empty[(Long, Long)]
  private var lastExactExtra = -1L
  private var lastRecall = Double.NaN
  private var passes = 0

  private def path(n: String) = new java.io.File(ctx.work, s"raw/$ns/$n.parquet").getAbsolutePath
  private def docs: DataFrame = spark.read.parquet(path("docs"))
  private def vecs: DataFrame = spark.read.parquet(path("vecs"))
  private def queries: DataFrame = spark.read.parquet(path("queries"))

  def setup(namespace: String): Unit = {
    ns = namespace
    val r = new scala.util.Random(ctx.seed)
    val (texts, pairs) = makeDocs(r)
    injected = pairs
    val docRows = texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    spark.createDataFrame(spark.sparkContext.parallelize(docRows.toSeq, ctx.cores),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
      .write.mode("overwrite").parquet(path("docs"))
    val (corpusV, queryV) = makeVectors(r)
    def vecDf(rows: Seq[(Long, Array[Double])]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v.toSeq) }, ctx.cores),
      StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(DoubleType, false)))))
    vecDf(corpusV).write.mode("overwrite").parquet(path("vecs"))
    vecDf(queryV).write.mode("overwrite").parquet(path("queries"))
    truth = Similarity.topKCosine(vecs, queries, "id", "v", K).select("q_id", "n_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    results.clear()
    passes = 0
  }

  /** Base documents of skewed vocabulary words, then near-duplicates (one
    * per chosen base: drops and a swap, kept only at Jaccard >= 0.6) and
    * exact copies (first word upper-cased: same normalized fingerprint).
    * Returns the shuffled texts and the injected near-duplicate id pairs. */
  private def makeDocs(r: scala.util.Random): (IndexedSeq[String], Set[(Long, Long)]) = {
    val vocab = (0 until Vocab).map(i => word(i))
    def base(): Vector[String] = Vector.fill(MinWords + r.nextInt(MaxWords - MinWords + 1)) {
      if (r.nextDouble() < 0.12) Stop(r.nextInt(Stop.size))
      else vocab((Vocab * math.pow(r.nextDouble(), 1.6)).toInt)
    }
    val bases = IndexedSeq.fill(BaseDocs)(base())
    val chosen = r.shuffle((0 until BaseDocs).toList)
    val dupOf = chosen.take(NearDups)
    val copyOf = chosen.slice(NearDups, NearDups + ExactCopies)
    def edit(ws: Vector[String]): Vector[String] = {
      var out = ws
      for (_ <- 0 until 1 + r.nextInt(2)) out = out.patch(r.nextInt(out.size), Nil, 1)
      val i = r.nextInt(out.size - 1)
      out.updated(i, out(i + 1)).updated(i + 1, out(i))
    }
    val dups = dupOf.map { b =>
      var d = edit(bases(b))
      while (jaccard(bases(b), d) < 0.6) d = edit(bases(b))
      b -> d
    }
    val copies = copyOf.map(b => b -> (bases(b).head.toUpperCase +: bases(b).tail))
    // (text, base index or -1, kind)
    val all = bases.zipWithIndex.map { case (ws, i) => (ws, i, 0) } ++
      dups.map { case (b, ws) => (ws, b, 1) } ++ copies.map { case (b, ws) => (ws, b, 2) }
    val order = r.shuffle(all.indices.toList).toIndexedSeq
    val idOf = mutable.Map[(Int, Int), Long]()
    order.zipWithIndex.foreach { case (j, id) => idOf((all(j)._2, all(j)._3)) = id.toLong }
    val pairs = dups.map { case (b, _) =>
      val (x, y) = (idOf((b, 0)), idOf((b, 1)))
      (math.min(x, y), math.max(x, y))
    }.toSet
    (order.map(j => all(j)._1.mkString(" ")), pairs)
  }

  private def makeVectors(r: scala.util.Random): (Seq[(Long, Array[Double])], Seq[(Long, Array[Double])]) = {
    val centers = Array.fill(Clusters)(Array.fill(Dim)(r.nextGaussian()))
    def near(c: Int) = centers(c).map(_ + Spread * r.nextGaussian())
    val corpus = (0 until Vectors).map(i => (i.toLong, near(r.nextInt(Clusters))))
    val qs = (0 until Queries).map(i => (QueryIdBase + i, near(r.nextInt(Clusters))))
    (corpus, qs)
  }

  /** One stage; its result digest is kept for every pass, warm-up
    * included, so that the stability check compares the warm-up with each
    * cycle. */
  private def stage(name: String, rows: Long)(body: => String): Unit =
    ctx.op(name, "stage") {
      val digest = ctx.span(name, "operators")(body)
      results.getOrElseUpdate(name, mutable.ArrayBuffer()) += digest
      rows
    }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("a_id").cast("long"), col("b_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def digestPairs(p: Set[(Long, Long)]): String = Util.digest(p.toSeq.map(x => Seq(x._1, x._2)))

  def warmup(): Unit = run(docs, vecs, queries)

  def cycle(c: Int): Unit = run(docs, vecs, queries)

  private def run(d: DataFrame, v: DataFrame, q: DataFrame): Unit = {
    passes += 1
    lastMinhash = Set.empty
    lastPrefix = Set.empty
    lastExactExtra = -1L
    lastRecall = Double.NaN
    stage("quality columns", BaseDocs + NearDups + ExactCopies) {
      ctx.noop(d.select((col("id") +: Text.qualityColumns(col("text"))): _*))
      ""
    }
    stage("Dedup.exact", 0) {
      val groups = d.transform(Dedup.exact(_, "id", "text")).where(col("n_dups") > 1)
        .agg(coalesce(sum(col("n_dups") - 1), lit(0L))).collect().head.getLong(0)
      lastExactExtra = groups
      groups.toString
    }
    stage("Dedup.minhashLshPairs", 0) {
      lastMinhash = pairs(Dedup.minhashLshPairs(d, "id", "text", Tau, n = Shingle))
      digestPairs(lastMinhash)
    }
    stage("Dedup.prefixJaccardPairs", 0) {
      lastPrefix = pairs(Dedup.prefixJaccardPairs(d, "id", "text", Shingle, Tau))
      digestPairs(lastPrefix)
    }
    stage("IvfIndex.lloydTrain", Vectors) {
      Util.digest(Util.rowsOf(IvfIndex.lloydTrain(v, "id", "v", TrainStride, TrainIters)
        .select("iter", "c_id", "n_members").collect()))
    }
    stage("IvfIndex.assign", 0) {
      ctx.noop(IvfIndex.assign(v, IvfIndex.centroids(v, "id", "v", IvfStride), "id", "v"))
      ""
    }
    stage("IVF top-10 search", Queries) {
      val got = IvfIndex.topKCosineIvf(v, q, "id", "v", K, IvfStride, NProbe)
        .select("q_id", "n_id").collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      lastRecall = truth.map { case (q, want) => (want & got.getOrElse(q, Set.empty)).size }.sum.toDouble /
        truth.values.map(_.size).sum
      Util.digest(got.toSeq.sortBy(_._1).map { case (q, ns) => Seq(q, ns.toSeq.sorted.mkString(",")) })
    }
  }

  def dupRecall: Double = (injected & lastMinhash).size.toDouble / injected.size
  def prefixRecall: Double = (injected & lastPrefix).size.toDouble / injected.size

  def verify(): Seq[(String, Boolean, String)] = {
    val stable = results.size == Stages &&
      results.values.forall(r => r.size == passes && r.distinct.size == 1)
    Seq(
      ("corpus: exact dedup finds exactly the injected copies", lastExactExtra == ExactCopies,
        s"$lastExactExtra of $ExactCopies"),
      ("corpus: prefix join finds every injected near-duplicate", prefixRecall == 1.0,
        f"recall $prefixRecall%.4f of ${injected.size} pairs"),
      (f"corpus: dup_recall >= $DupRecallFloor", dupRecall >= DupRecallFloor, f"$dupRecall%.4f"),
      (f"corpus: recall_at_10 >= $RecallFloor", lastRecall >= RecallFloor, f"$lastRecall%.4f"),
      ("corpus: every pass, warm-up included, gives the same results", stable,
        s"${results.size} stages over $passes passes"))
  }

  /** LSH candidate pairs, counted outside the operator from the same public
    * signature and banding expressions (traced runs only). */
  private def countCandidates(): Long = {
    val sig = docs.select(col("id"),
      TextExpressions.wordNgrams(col("text"), Shingle, distinct = true).as("arr"))
      .where(size(col("arr")) > 0)
      .select(col("id"), MinHashExpressions.minHashSignature(col("arr"), 128).as("sig"))
    val bands = sig.select(col("id"),
      posexplode(MinHashExpressions.bandHashes(col("sig"), 32, 4)).as(Seq("band", "bh")))
    val a = bands.select(col("band"), col("bh"), col("id").as("a"))
    val b = bands.select(col("band"), col("bh"), col("id").as("b"))
    a.join(b, Seq("band", "bh")).where(col("a") < col("b")).select("a", "b").distinct().count()
  }

  override def layerProbes(): Map[String, Double] = {
    val cands = countCandidates()
    Map("operators.lsh_candidate_yield" -> (if (cands == 0) 0.0 else lastMinhash.size.toDouble / cands))
  }

  override def extras(): Seq[(String, Double, String)] = Seq(
    ("recall_at_10", lastRecall, "ratio"),
    ("dup_recall", dupRecall, "ratio"),
    ("prefix_recall", prefixRecall, "ratio"))
}

object Corpus {
  val BaseDocs = 5000
  val NearDups = 500
  val ExactCopies = 50
  val MinWords = 40
  val MaxWords = 80
  val Vocab = 4000
  val Shingle = 3
  val Tau = 0.5
  val Vectors = 4096
  val Queries = 256
  val QueryIdBase = 1000000L
  val Dim = 64
  val Clusters = 64
  val Spread = 0.35
  val K = 10
  val TrainStride = 64L
  val TrainIters = 2
  val IvfStride = 64L
  val NProbe = 8
  val DupRecallFloor = 0.80
  val RecallFloor = 0.9
  /** Stages in a pass of [[Corpus.run]]. */
  val Stages = 7

  private val Stop = IndexedSeq("the", "a", "of", "and", "to", "in", "is", "it")

  /** A pronounceable vocabulary word for index i. */
  def word(i: Int): String = {
    val cons = "bcdfghjklmnprstvz"
    val vow = "aeiou"
    val sb = new StringBuilder
    var x = i + 17
    while ({ sb += cons(x % cons.length); x /= cons.length; sb += vow(x % vow.length); x /= vow.length; x > 0 }) ()
    sb.toString
  }

  def jaccard(a: Seq[String], b: Seq[String]): Double = {
    def grams(ws: Seq[String]) = ws.sliding(Shingle).map(_.mkString(" ")).toSet
    val (x, y) = (grams(a), grams(b))
    (x & y).size.toDouble / (x | y).size
  }
}
