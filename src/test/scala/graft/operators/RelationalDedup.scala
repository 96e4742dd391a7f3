package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The relational pair-join formulations [[Dedup]] replaced — the prefix
  * join over exploded md5 shingle rows with a collect_list rebuild of each
  * document's frequency-ordered shingles, and the MinHash verify as a
  * postings join over exploded shingle strings — kept as the reference the
  * array-native operators must match bit for bit.
  */
object RelationalDedup {

  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int, tau: Double): DataFrame = {
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    val posts = Dedup.shingleRows(df, idCol, textCol, n)
      .select(col("id"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
      .localCheckpoint(eager = true)
    val freq = posts.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val docs = posts.join(freq, "h")
      .repartition(width, col("id"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("ord"))
      .select(col("id"),
        expr("transform(ord, x -> x.h)").as("tk"),
        size(col("ord")).cast("long").as("sz"))
      .withColumn("p", col("sz") - ceil(lit(tau) * col("sz")).cast("long") + 1)
      .localCheckpoint(eager = true)
    val pre = docs.select(col("id"), col("sz"),
      explode(slice(col("tk"), lit(1), col("p"))).as("h"))
    val cand = pre.select(col("id").as("a_id"), col("sz").as("a_sz"), col("h"))
      .join(pre.select(col("id").as("b_id"), col("sz").as("b_sz"), col("h")), Seq("h"))
      .where(col("a_id") < col("b_id") &&
        least(col("a_sz"), col("b_sz")).cast("double") >=
          lit(tau) * greatest(col("a_sz"), col("b_sz")).cast("double"))
      .select(col("a_id"), col("b_id"))
      .distinct()
      .repartition(width, struct(col("a_id"), col("b_id")))
    cand
      .join(docs.select(col("id").as("a_id"), col("tk").as("a_tk"), col("sz").as("a_sz")), "a_id")
      .join(docs.select(col("id").as("b_id"), col("tk").as("b_tk"), col("sz").as("b_sz")), "b_id")
      .withColumn("inter", size(array_intersect(col("a_tk"), col("b_tk"))).cast("long"))
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("a_sz") + col("b_sz") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= tau)
  }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      tau: Double, n: Int = 3, k: Int = 128, bands: Int = 32): DataFrame = {
    val r = k / bands
    val docShingles = df.select(col(idCol).as("id"),
      graft.expressions.TextExpressions.wordNgrams(
        col(textCol), n, distinct = true).as("arr"))
      .where(size(col("arr")) > 0)
      .localCheckpoint(eager = true)
    val sig = docShingles.select(col("id"),
      graft.expressions.MinHashExpressions.minHashSignature(col("arr"), k).as("sig"),
      size(col("arr")).as("sz"))
      .localCheckpoint(eager = true)
    val posts = docShingles.select(col("id"), explode(col("arr")).as("s"))
    val bandRows = sig.select(col("id"),
      posexplode(graft.expressions.MinHashExpressions.bandHashes(col("sig"), bands, r))
        .as(Seq("band", "bh")))
    val candA = bandRows.select(col("band").as("a_band"), col("bh").as("a_bh"), col("id").as("a_id"))
    val candB = bandRows.select(col("band").as("b_band"), col("bh").as("b_bh"), col("id").as("b_id"))
    val cand = candA.join(candB,
        col("a_band") === col("b_band") && col("a_bh") === col("b_bh") &&
          col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val sizes = sig.select(col("id"), col("sz"))
    val inter = posts.select(col("id").as("a_id"), col("s").as("a_s"))
      .join(cand, "a_id")
      .join(posts.select(col("id").as("bb_id"), col("s").as("b_s")),
        col("b_id") === col("bb_id") && col("a_s") === col("b_s"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("a_id"), col("sz").as("a_sz")), "a_id")
      .join(sizes.select(col("id").as("b_id"), col("sz").as("b_sz")), "b_id")
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("a_sz") + col("b_sz") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= tau)
  }
}
