package graft

/** Per-round benchmark: times every SparkEntry query at SPARK_GRAFT_SF_DIR,
  * prints one JSON line. Optional args restrict to the named queries
  * (local profiling aid; the driver passes none).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session()
    // warm up codegen/JIT/parquet footers so the first timed query isn't
    // charged for session initialization
    Tables.names.foreach(t => Tables.load(spark, sfDir, t).count())
    // 3 iterations: this VM shares cores with the round driver (ambient
    // load 4-7), and the first run of a heavy query pays planning + JIT
    // under contention — min-of-3 reproduces isolation-level timings
    // (minhash: 8-10s min-of-2 in-suite vs 2.3s min-of-3)
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val sel = SparkEntry.queries.filter { case (n, _) => args.isEmpty || args.contains(n) }
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val results = sel.toSeq.sortBy(_._1).map { case (name, fn) =>
      // min over iterations: JIT/code-cache state across the suite makes
      // single shots noisy by multiples
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        // noop sink, NOT count(): count() lets Catalyst prune every
        // projection-only column, so extraction/hash/quantize queries
        // would measure a parquet metadata count instead of their work
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          // a failure must be VISIBLE, not a suspiciously fast timing
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // drop operator-internal persists plus references to finished
        // shuffles/broadcasts so the ContextCleaner reclaims them; without
        // this, state from 40+ queries accumulates and later queries
        // measure 5-20x slower
        spark.sharedState.cacheManager.clearCache()
        System.gc()
        dt
      }
      name -> times.min
    }
    // The driver captures only the LAST 2000 chars of output (including
    // sbt's ~75-char success trailer) and parses the JSON line out of that
    // window — r02's 9-decimal line was ~2600 chars and silently failed to
    // parse. Every byte counts at 83+ queries: 10ms precision with
    // trailing zeros stripped ("1.80"→"1.8"), sf as its basename, and the
    // failed list emitted only when non-empty.
    def fmtPrec(v: Double, prec: String): String = {
      val s = String.format(java.util.Locale.ROOT, prec, Double.box(v))
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      else s
    }
    def fmt(v: Double): String = fmtPrec(v, "%.2f")
    def dict(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    val sfName = new java.io.File(sfDir).getName
    def mkLine(qs: String, extra: String) =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$extra$failedJson,"sf":"$sfName"}"""
    // per-query values at 0.1s resolution: at 80+ queries every byte is the
    // difference between fitting the tail window or not; profile individual
    // queries with local runs, not this line
    val perq = dict(results.map { case (k, v) => k -> fmtPrec(v, "%.1f") })
    // Full per-query detail on a deliberately-non-JSON line ("perq " prefix
    // keeps it from being mistaken for the result line); the driver's window
    // may clip it, humans and later rounds read it from the full log.
    println("perq " + perq)
    val fullLine = mkLine(perq, "")
    // The driver captures only the LAST 2000 chars of output (which also
    // holds sbt's ~75-char success trailer) and parses the JSON line out of
    // that window. If the full per-query line risks overflowing it, fall
    // back to per-family totals plus the slowest queries by name, dropping
    // detail until the line fits.
    val line =
      if (fullLine.length <= 1750) fullLine
      else {
        val families = dict(
          results.groupBy { case (n, _) =>
            // "q14_sessionize" and "q1_pricing_summary" are one "q" family
            val p = n.takeWhile(_ != '_')
            if (p.matches("q\\d+")) "q" else p
          }.toSeq.sortBy(_._1)
            .map { case (f, rs) => f -> fmt(rs.map(_._2).sum) })
        val slowest = results.sortBy(-_._2)
        val extra = s""","families":$families,"nq":${results.length}"""
        Iterator.range(slowest.length, 0, -1)
          .map { k =>
            val qs = dict(slowest.take(k).sortBy(_._1)
              .map { case (n, v) => n -> fmtPrec(v, "%.1f") })
            mkLine(qs, extra)
          }
          .find(_.length <= 1700)
          .getOrElse(mkLine("{}", extra))
      }
    println(line)
    spark.stop()
  }
}
