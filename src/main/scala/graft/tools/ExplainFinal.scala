package graft.tools

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan auditor for the FINAL adaptive plan: executes each named query to
  * a noop sink, then prints the post-AQE executed plan (join strategies,
  * AQEShuffleRead coalescing, reused exchanges — the things the initial
  * plan can't show). usage: graft.tools.ExplainFinal [--sf=dir] query ...
  */
object ExplainFinal {
  def main(args: Array[String]): Unit = {
    val (flags, names) = args.partition(_.startsWith("--"))
    val dir = flags.find(_.startsWith("--sf=")).map(_.drop(5))
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val spark = graft.SparkEntry.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n================ $name (final adaptive plan) ================")
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      println(plan.toString())
    }
    spark.stop()
  }
}
