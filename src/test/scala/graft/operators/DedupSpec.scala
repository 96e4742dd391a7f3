package graft.operators

import graft.SparkSpec
import graft.expressions.TextExpressions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"

  // 3 planted near-dup pairs + unrelated docs
  private def corpus = Seq(
    (1L, base, "s1"), (2L, base + " phi", "s1"),                    // ~0.87 trigram j
    (3L, "one two three four five six seven eight nine ten", "s2"),
    (4L, "one two three four five six seven eight nine ten", "s2"), // exact dup
    (5L, "totally different words in this particular document here", "s3"),
    (6L, "x", "s3"), (7L, "", "s3")                                  // shorter than n
  ).toDF("doc_id", "text", "source")

  test("shingles: short/empty docs yield empty set instead of crashing") {
    val rows = corpus.select($"doc_id", Dedup.shingles("text", 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).length).toMap
    assert(rows(6L) == 0 && rows(7L) == 0)
    assert(rows(1L) == 18) // 20 tokens → 18 trigrams
  }

  test("exact dedup groups identical normalized text, keeps min id") {
    val r = Dedup.exact(corpus, "doc_id", "text")
      .where($"n_dups" > 1).collect()
    assert(r.length == 1 && r.head.getAs[Long]("keep_id") == 3L)
  }

  test("containment flags a short doc quoted in a long one that jaccard misses") {
    // doc 11 is the first quarter of doc 10: containment = 1.0, but the
    // size gap pins jaccard near |A|/|B| ≈ 0.2 — the asymmetric case
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val short = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq((10L, long, "s1"), (11L, short, "s1"),
      (12L, "unrelated other stuff entirely different", "s1"))
      .toDF("doc_id", "text", "source")
    val cont = Dedup.containmentPairsBlocked(docs, "doc_id", "text", "source",
      n = 3, minContainment = 0.9).collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 11L)))
    assert(cont.head.getAs[Double]("containment") == 1.0)
    val jac = Dedup.jaccardPairsBlocked(docs, "doc_id", "text", "source",
      n = 3, minJaccard = 0.5).collect()
    assert(jac.isEmpty, "jaccard should miss the asymmetric pair")
  }

  test("minhash LSH finds every planted pair a brute-force scan finds") {
    val brute = Dedup.jaccardPairsBlocked(
      corpus.withColumn("all", lit(1)), "doc_id", "text", "all", 3, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(corpus, "doc_id", "text", tau = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty && lsh == brute)
  }

  // the array-native pair joins' edge cases: runs of spaces, leading and
  // trailing spaces, a tab inside a token, text shorter than n tokens,
  // empty and null text, n-grams repeated inside one document, multi-byte
  // and malformed UTF-8, and rotations whose shingles tie exactly on
  // document frequency, so the hash tie-break decides the prefix
  private def edgeDocs: DataFrame = Seq[(Long, String)](
    (1L, "a b c d e f g h"), (2L, "a  b   c d e f g h"),
    (3L, " a b c d e f g x "), (4L, "a\tb c d e f g h"),
    (5L, "x"), (6L, "x y"), (7L, ""), (8L, null),
    (9L, "p q p q p q p q"), (10L, "p q p q p q r"),
    (11L, "é ü 日本 語 テキスト é ü 日本"), (12L, "é ü 日本 語 テキスト 😀 é ü"),
    (13L, "t1 t2 t3 t4 t5"), (14L, "t2 t3 t4 t5 t1"),
    (15L, "t3 t4 t5 t1 t2"), (16L, "t4 t5 t1 t2 t3")
  ).toDF("doc_id", "text")
    .union(spark.range(1).select(lit(17L), unhex(lit("61FF2062206320FF")).cast("string")))

  test("shingleHashes: the sorted distinct md5-60 of every word n-gram") {
    for (n <- 1 to 3) {
      val got = edgeDocs.select($"doc_id", TextExpressions.shingleHashes($"text", n))
      val want = edgeDocs.select($"doc_id", expr("sort_array(array_distinct(transform(" +
        s"word_ngrams(text, $n, true), s -> conv(substring(md5(s), 1, 15), 16, 10)::bigint)))"))
      // the reference's conv may be null; a shingle hash never is
      assert(got.schema.last.dataType ==
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false))
      assert(RelationalIvf.rawBits(got) == RelationalIvf.rawBits(want), s"n=$n")
    }
  }

  test("prefix and MinHash pair joins: raw jaccard bits equal the relational " +
    "prefix join and postings verify") {
    for (n <- 1 to 3; tau <- Seq(0.5, 0.75)) {
      val got = Dedup.prefixJaccardPairs(edgeDocs, "doc_id", "text", n, tau)
      val want = RelationalDedup.prefixJaccardPairs(edgeDocs, "doc_id", "text", n, tau)
      assert(RelationalIvf.rawBits(got) == RelationalIvf.rawBits(want), s"prefix n=$n tau=$tau")
      val gotLsh = Dedup.minhashLshPairs(edgeDocs, "doc_id", "text", tau, n)
      val wantLsh = RelationalDedup.minhashLshPairs(edgeDocs, "doc_id", "text", tau, n)
      assert(RelationalIvf.rawBits(gotLsh) == RelationalIvf.rawBits(wantLsh),
        s"minhash n=$n tau=$tau")
    }
    // the edge corpus has pairs to compare: spacing variants, the
    // rotations, and the repeated-bigram documents
    val pairs = Dedup.prefixJaccardPairs(edgeDocs, "doc_id", "text", 1, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((1L, 2L), (1L, 4L), (9L, 10L), (11L, 12L), (13L, 16L)).subsetOf(pairs), pairs)
    // and a seeded corpus of mutated copies of a few base texts, so that
    // many documents share shingles at many frequencies
    val r = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"w$i")
    val bases = Seq.fill(20)(Seq.fill(30)(vocab(r.nextInt(vocab.size))))
    val docs = (0 until 200).map { i =>
      val b = bases(r.nextInt(bases.size)).toArray
      (0 until r.nextInt(4)).foreach(_ => b(r.nextInt(b.length)) = vocab(r.nextInt(vocab.size)))
      (i.toLong, b.mkString(" "))
    }.toDF("doc_id", "text")
    for (tau <- Seq(0.5, 0.8)) {
      val want = RelationalIvf.rawBits(RelationalDedup.prefixJaccardPairs(docs, "doc_id", "text", 3, tau))
      assert(want.nonEmpty && RelationalIvf.rawBits(
        Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, tau)) == want, s"prefix tau=$tau")
      assert(RelationalIvf.rawBits(Dedup.minhashLshPairs(docs, "doc_id", "text", tau)) ==
        RelationalIvf.rawBits(RelationalDedup.minhashLshPairs(docs, "doc_id", "text", tau)),
        s"minhash tau=$tau")
    }
  }

  /** Every physical-plan node of every query `body` executes, its result's
    * collect and the eager checkpoints inside the operator included. */
  private def executedNodes(body: => DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Bridge.drainListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body.collect()
      Bridge.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.flatMap(qe => nodes(qe.executedPlan))
  }

  test("pair join plans: the prefix join has no collect_list, array_sort or " +
    "md5; the MinHash join has one Generate, the band posexplode") {
    import org.apache.spark.sql.catalyst.expressions.{ArraySort, Md5}
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.window.WindowExec
    def relational(nodes: Seq[SparkPlan]): Seq[String] = nodes.flatMap(_.expressions)
      .flatMap(_.collect { case e @ (_: CollectList | _: ArraySort | _: Md5) => e.prettyName })
    val prefix = executedNodes(Dedup.prefixJaccardPairs(corpus, "doc_id", "text", 3, 0.5))
    assert(prefix.exists(_.isInstanceOf[WindowExec]), "no rank window in the prefix join")
    assert(relational(prefix).isEmpty, relational(prefix))
    // the capture sees through the checkpoints: the reference has all three
    assert(relational(executedNodes(
      RelationalDedup.prefixJaccardPairs(corpus, "doc_id", "text", 3, 0.5))).toSet ==
      Set("collect_list", "array_sort", "md5"))
    // distinct by canonical plan: a broadcast band join runs the one band
    // Generate on each side, a shuffled one reuses its exchange
    def generates(df: => DataFrame) = executedNodes(df)
      .collect { case g: GenerateExec => g.canonicalized.asInstanceOf[GenerateExec] }.distinct
    val lsh = generates(Dedup.minhashLshPairs(corpus, "doc_id", "text", 0.5))
    assert(lsh.map(_.generator.prettyName) == Seq("posexplode"), lsh)
    // the postings verify explodes the shingle strings besides
    assert(generates(RelationalDedup.minhashLshPairs(corpus, "doc_id", "text", 0.5))
      .map(_.generator.prettyName).sorted == Seq("explode", "posexplode"))
  }

  test("simhashPairs: finds near-identical pair, rejects maxDist > 3") {
    val pairs = Dedup.simhashPairs(corpus.where(length($"text") > 5), "doc_id", "text")
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 4L))) // identical docs → hamming 0
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(corpus, "doc_id", "text", maxDist = 4)
    }
  }

  test("embedding LSH pairs: exact precision, high recall vs brute force") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tau = 0.4 // max pair cosine in this synthetic data is ~0.48
    // brute force = blocked path with a single constant block
    val brute = Dedup.embeddingPairsBlocked(
      emb.withColumn("all", lit(1)), "vec_id", "embedding", "all", tau)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingPairsLsh(emb, "vec_id", "embedding", tau)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact by construction (cosine verified); recall < 1
    assert(lsh.subsetOf(brute), s"false positives: ${lsh -- brute}")
    assert(brute.nonEmpty)
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall over ${brute.size} true pairs")
  }

  test("embedding near-dup pairs respect block + threshold") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0), (2L, Array(0.99f, 0.1f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0), (4L, Array(1.0f, 0.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingPairsBlocked(emb, "vec_id", "embedding", "label", 0.9)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L))) // 1-4 identical but cross-block; 1-3 orthogonal
  }

  test("semDedup drops the higher-id member of each in-cluster near-dup pair") {
    // stride=2 → centroids are the even ids. 1 is a near-dup of 0 (same
    // cluster), 3 of 2; 5 has no >= tau neighbor and must survive even
    // though it shares cluster 0 (cosine to centroids 0 and 2 ties at
    // 0.707 → smaller c_id wins)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.98f, 0.15f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (5L, Array(0.5f, 0.5f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = Dedup.semDedup(emb, "vec_id", "embedding", stride = 2, tau = 0.95)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.keySet == Set(0L, 2L, 4L, 5L), s"survivors=${r.keySet}")
    assert(r(5L) == 0L, s"tie must break toward the smaller centroid: ${r(5L)}")
  }
}
