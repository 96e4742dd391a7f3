package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Chunked batch enrichment — the Spark-native shape of the reference's
  * LLM name-extraction stage (main.py:178-215, 262-305):
  *
  *   1. `distinct` the enrichment keys (the reference deduplicates
  *      raw_drug_text into a set before calling the LLM) — at 100 TB this
  *      is the step that turns billions of rows into thousands of calls;
  *   2. batch keys into chunks of `chunkSize` per partition and call the
  *      enricher once per chunk (`mapPartitions` + `grouped`);
  *   3. join the enriched dictionary back (broadcast at runtime when
  *      small — see [[BatchEnrich.enrich]]).
  *
  * The Enricher SPI is where a real LLM/API client plugs in; it must be
  * deterministic for replay/retry safety (Spark may re-run tasks).
  */
trait BatchEnricher extends Serializable {
  /** Output field names appended to the key. */
  def outputFields: Seq[String]
  /** Enrich one chunk; missing keys fall back to (key, blanks) like the
    * reference's LLM-miss path (main.py:297-300). */
  def enrichBatch(keys: Seq[String]): Map[String, Seq[String]]
}

/** Deterministic rule-based enricher standing in for the LLM: splits a
  * product name into an "active ingredient" (first token, uppercased) and
  * a "trade name" (last token, capitalized).
  */
class NameRuleEnricher extends BatchEnricher {
  override val outputFields: Seq[String] = Seq("active_ingredient", "trade_name")
  override def enrichBatch(keys: Seq[String]): Map[String, Seq[String]] =
    keys.map { k =>
      val toks = k.split(" ")
      val active = if (toks.nonEmpty) toks.head.toUpperCase else ""
      val last = if (toks.nonEmpty) toks.last else ""
      val trade = if (last.nonEmpty) last.substring(0, 1).toUpperCase + last.substring(1) else ""
      k -> Seq(active, trade)
    }.toMap
}

object BatchEnrich {

  /** Left-join `df` with enrichment outputs keyed on `keyCol`.
    *
    * The join-back carries no hint and plans as a shuffle join; adaptive
    * execution turns it into a broadcast join at runtime whenever the
    * OBSERVED dictionary is below
    * `spark.sql.adaptive.autoBroadcastJoinThreshold` (the common
    * LLM-enrichment shape — thousands of keys). A huge dictionary never
    * broadcasts, so it cannot OOM the driver, and no eager key count
    * re-runs `df`'s upstream chain to decide.
    *
    * Failed chunks degrade to the miss fallback (the reference logs and
    * continues, main.py:213-214) — but never silently: each failure is
    * logged on the executor and counted in the returned accumulator
    * (visible in the Spark UI as `graft.enrich.failedChunks`).
    */
  def enrich(df: DataFrame, keyCol: String, enricher: BatchEnricher,
             chunkSize: Int = 200): DataFrame =
    enrichCounted(df, keyCol, enricher, chunkSize)._1

  /** [[enrich]] + the failed-chunk accumulator for operators that alert. */
  def enrichCounted(df: DataFrame, keyCol: String, enricher: BatchEnricher,
                    chunkSize: Int = 200)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val spark = df.sparkSession
    val failedChunks = spark.sparkContext.longAccumulator("graft.enrich.failedChunks")
    val keySchema = StructType(
      (keyCol +: enricher.outputFields).map(StructField(_, StringType, nullable = true)))
    val keys = df.select(col(keyCol)).where(col(keyCol).isNotNull).distinct()
    val dictRdd = keys.rdd.mapPartitions { it =>
      it.map(_.getString(0)).grouped(chunkSize).flatMap { chunk =>
        // a failing chunk must not abort the job (the reference logs and
        // continues, main.py:213-214): its keys take the same miss
        // fallback as an enricher that returns no answer (main.py:297-300
        // — first field carries the raw key, the rest blank)
        val out = scala.util.Try(enricher.enrichBatch(chunk)) match {
          case scala.util.Success(m) => m
          case scala.util.Failure(e) =>
            failedChunks.add(1L)
            org.slf4j.LoggerFactory.getLogger("graft.BatchEnrich").warn(
              s"enrich chunk of ${chunk.size} keys failed, using miss fallback", e)
            Map.empty[String, Seq[String]]
        }
        chunk.iterator.map { k =>
          val vals = out.getOrElse(k, Seq(k) ++ Seq.fill(enricher.outputFields.size - 1)(""))
          Row.fromSeq(k +: vals)
        }
      }
    }
    val dict = spark.createDataFrame(dictRdd, keySchema)
    (df.join(dict, Seq(keyCol), "left"), failedChunks)
  }
}
