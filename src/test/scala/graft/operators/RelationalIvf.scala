package graft.operators

import graft.functions.Vectors
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The relational IVF formulations [[IvfIndex]] replaced — the cross join
  * plus argmax aggregate for assignment, the cross join plus `row_number`
  * for probes, and the posexplode/window/collect_list chain for the Lloyd
  * means — kept as the reference the fused expression and the driver-held
  * Lloyd loop must match bit for bit.
  */
object RelationalIvf {

  def assign(corpus: DataFrame, cents: DataFrame, idCol: String,
             vecCol: String): DataFrame = {
    val v = corpus.select(col(idCol).as("id"), Vectors.toDoubleArray(col(vecCol)).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val winners = v.crossJoin(broadcast(cents))
      .select(col("id"),
        (Vectors.dot(col("v"), col("c_v")) / (col("nrm") * col("c_nrm"))).as("cosine"),
        col("c_id"))
      .groupBy(col("id"))
      .agg(max(struct(col("cosine"), (-col("c_id")).as("__negc"))).as("__m"))
      .select(col("id").as("__wid"), (-col("__m.__negc")).as("c_id"),
        col("__m.cosine").as("cosine"))
    v.join(winners, col("id") === col("__wid")).drop("__wid")
      .select(col("id"), col("v"), col("nrm"), col("c_id"), col("cosine"))
  }

  def probes(queries: DataFrame, cents: DataFrame, idCol: String,
             vecCol: String, nProbe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), Vectors.toDoubleArray(col(vecCol)).as("q_v"))
      .withColumn("q_nrm", Vectors.norm(col("q_v")))
    q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("q_v"), col("q_nrm"), col("c_id"),
        (Vectors.dot(col("q_v"), col("c_v")) / (col("q_nrm") * col("c_nrm"))).as("p_cos"))
      .withColumn("__pr", row_number().over(
        Window.partitionBy("q_id").orderBy(col("p_cos").desc, col("c_id"))))
      .where(col("__pr") <= nProbe)
      .select(col("q_id"), col("q_v"), col("q_nrm"), col("c_id"))
  }

  private val wCum = Window.partitionBy("c_id", "pos").orderBy("id")
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  private def means(asg: DataFrame): DataFrame =
    asg.select(col("id"), col("c_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("__cum", sum(col("x")).over(wCum))
      .groupBy(col("c_id"), col("pos"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("id"), col("__cum"))).getField("__cum").as("__sx"))
      .select(col("c_id"), col("pos"), col("n_members"),
        (col("__sx") / col("n_members")).as("mean"))

  def lloydStep(corpus: DataFrame, idCol: String, vecCol: String,
                stride: Long): DataFrame =
    means(assign(corpus, IvfIndex.centroids(corpus, idCol, vecCol, stride), idCol, vecCol))

  def lloydTrain(corpus: DataFrame, idCol: String, vecCol: String,
                 stride: Long, iters: Int): DataFrame = {
    val v = corpus
      .select(col(idCol).as("id"), Vectors.toDoubleArray(col(vecCol)).as("v"))
      .localCheckpoint(eager = true)
    var cents = IvfIndex.centroids(corpus, idCol, vecCol, stride)
    val trace = (1 to iters).map { it =>
      val m = means(assign(v, cents, "id", "v")).localCheckpoint(eager = true)
      val old = cents.select(col("c_id"), posexplode(col("c_v")).as(Seq("pos", "old_x")))
      val shifted = m.join(old, Seq("c_id", "pos"))
        .select(col("c_id"), col("pos"), col("n_members"),
          ((col("mean") - col("old_x")) * (col("mean") - col("old_x"))).as("d2"))
        .groupBy(col("c_id"))
        .agg(max(col("n_members")).as("n_members"),
          aggregate(
            transform(array_sort(collect_list(struct(col("pos"), col("d2")))),
              x => x.getField("d2")),
            lit(0.0), (acc, x) => acc + x).as("shift"))
        .select(lit(it).as("iter"), col("c_id"), col("n_members"), col("shift"))
      cents = m.groupBy(col("c_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
          x => x.getField("mean")).as("c_v"))
        .withColumn("c_nrm", Vectors.norm(col("c_v")))
      shifted
    }
    trace.reduce(_ unionAll _)
  }

  /** A (vec_id, embedding) frame; `null` entries are null vectors and
    * null elements. */
  def vectors(spark: SparkSession, idType: DataType,
              rows: (Long, Seq[java.lang.Double])*): DataFrame = {
    val id: Long => Any = if (idType == IntegerType) _.toInt else identity
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, v) => Row(id(i), v) }: _*),
      StructType(Seq(StructField("vec_id", idType),
        StructField("embedding", ArrayType(DoubleType, containsNull = true)))))
  }

  /** Every row as a string with each double as its raw IEEE bits, sorted:
    * equal results are bit-identical results. */
  def rawBits(df: DataFrame): Seq[String] = {
    def show(x: Any): String = x match {
      case null => "null"
      case d: Double => f"d${java.lang.Double.doubleToRawLongBits(d)}%016x"
      case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
      case other => s"${other.getClass.getSimpleName}:$other"
    }
    df.collect().toSeq.map(_.toSeq.map(show).mkString("|")).sorted
  }
}
