package graft.operators

import graft.SparkSpec
import graft.functions.Vectors
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("conformSchema: rename, per-row null fill, absent column default") {
    val df = Seq((1L, Some("x")), (2L, None)).toDF("id", "name")
    val out = EtlOps.conformSchema(df, Seq(
      ("id", "order_id", lit(-1L)),
      ("name", "customer_name", lit("")),
      (null, "source_system", lit("legacy"))))
    assert(out.columns.toSeq == Seq("order_id", "customer_name", "source_system"))
    val rows = out.orderBy("order_id").collect()
    assert(rows(1).getString(1) == "" && rows(0).getString(2) == "legacy")
  }

  test("batch enrich: distinct keys, chunked calls, broadcast join-back") {
    val df = (1 to 100).map(i => (i.toLong, s"drug${i % 10} forte")).toDF("id", "raw_name")
    val out = BatchEnrich.enrich(df, "raw_name", new NameRuleEnricher, chunkSize = 3)
    assert(out.count() == 100)
    val r = out.where($"raw_name" === "drug3 forte").select("active_ingredient", "trade_name")
      .distinct().collect()
    assert(r.length == 1 && r.head.getString(0) == "DRUG3" && r.head.getString(1) == "Forte")
  }

  test("batch enrich: a failing chunk degrades to the miss fallback, job survives") {
    // chunks whose enricher call throws (a flaky API, the reference's
    // caught-and-logged path) must yield (key, blanks-after-raw) rows,
    // not a failed job; healthy chunks stay enriched
    class FlakyEnricher extends BatchEnricher {
      override val outputFields: Seq[String] = Seq("active_ingredient", "trade_name")
      override def enrichBatch(keys: Seq[String]): Map[String, Seq[String]] = {
        if (keys.exists(_.contains("poison"))) throw new RuntimeException("api down")
        keys.map(k => k -> Seq(k.toUpperCase, "ok")).toMap
      }
    }
    val df = Seq((1L, "alpha"), (2L, "poison pill"), (3L, "beta"))
      .toDF("id", "raw_name")
    val out = BatchEnrich.enrich(df, "raw_name", new FlakyEnricher, chunkSize = 1)
      .select("raw_name", "active_ingredient", "trade_name")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out("alpha") == ("ALPHA", "ok"))
    assert(out("beta") == ("BETA", "ok"))
    assert(out("poison pill") == ("poison pill", "")) // reference miss shape
  }

  test("batch enrich: failed chunks are COUNTED, not silently swallowed") {
    class DownEnricher extends BatchEnricher {
      override val outputFields: Seq[String] = Seq("a")
      override def enrichBatch(keys: Seq[String]): Map[String, Seq[String]] =
        throw new RuntimeException("api down")
    }
    val df = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "raw_name")
    val (out, failed) = BatchEnrich.enrichCounted(
      df, "raw_name", new DownEnricher, chunkSize = 1)
    assert(out.count() == 3) // job survives, rows take the miss fallback
    assert(failed.value == 3L, s"expected 3 failed chunks, got ${failed.value}")
  }

  test("batch enrich: AQE broadcasts the join-back only when dict is small") {
    class CountingEnricher(seen: org.apache.spark.util.CollectionAccumulator[String])
      extends NameRuleEnricher {
      override def enrichBatch(keys: Seq[String]): Map[String, Seq[String]] = {
        keys.foreach(seen.add)
        super.enrichBatch(keys)
      }
    }
    val df = (1 to 200).map(i => (i.toLong, s"key${i % 50} forte"))
      .toDF("id", "raw_name")
    val expected = (1 to 200).map(i => s"key${i % 50} forte").distinct.sorted
    def run(): (Array[org.apache.spark.sql.Row], String, String, Seq[String]) = {
      val seen = spark.sparkContext.collectionAccumulator[String]("seen")
      val out = BatchEnrich.enrich(df, "raw_name", new CountingEnricher(seen),
        chunkSize = 7)
      val rows = out.collect()
      import scala.jdk.CollectionConverters._
      (rows, out.queryExecution.sparkPlan.toString,
        out.queryExecution.executedPlan.toString, seen.value.asScala.toSeq)
    }
    // no hint: the static plan never broadcasts, so an oversized
    // dictionary cannot OOM the driver; AQE converts from OBSERVED stats
    val (rows, initial, finalPlan, seen) = run()
    assert(rows.length == 200)
    assert(!initial.contains("BroadcastHashJoin"), initial)
    assert(finalPlan.contains("isFinalPlan=true") &&
      finalPlan.contains("BroadcastHashJoin"), finalPlan)
    // every distinct key reaches the enricher exactly once: no eager key
    // count, and the runtime broadcast reuses the dictionary's shuffle
    assert(seen.sorted == expected, seen)
    val prev = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10")
    try {
      // a dictionary above AQE's threshold stays a shuffle join
      val (bigRows, _, bigFinal, bigSeen) = run()
      assert(bigRows.length == 200)
      assert(bigFinal.contains("isFinalPlan=true") &&
        !bigFinal.contains("BroadcastHashJoin"), bigFinal)
      assert(bigSeen.sorted == expected, bigSeen)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("sessionize: gap splits sessions, counts and bounds correct") {
    val ev = Seq((1L, 0L, 1L), (1L, 100L, 2L), (1L, 2000L, 3L), (2L, 50L, 4L))
      .toDF("user_id", "sec", "event_id")
    val s = Sessionize.sessions(ev, "user_id", "sec", "event_id", 1800L)
      .orderBy("user_id", "session_idx").collect()
    assert(s.length == 3)
    assert(s(0).getAs[Long]("n_events") == 2 && s(0).getAs[Long]("start_sec") == 0
      && s(0).getAs[Long]("end_sec") == 100)
    assert(s(1).getAs[Long]("n_events") == 1 && s(1).getAs[Long]("start_sec") == 2000)
  }

  test("vector math: dot/norm/cosine match hand computation") {
    val df = Seq((Array(1.0f, 2.0f, 2.0f), Array(2.0f, 0.0f, 0.0f))).toDF("a", "b")
    val r = df.select(
      Vectors.dot(Vectors.toDoubleArray($"a"), Vectors.toDoubleArray($"b")).as("d"),
      Vectors.norm(Vectors.toDoubleArray($"a")).as("n"),
      Vectors.cosine($"a", $"b").as("c")).collect().head
    assert(r.getDouble(0) == 2.0 && r.getDouble(1) == 3.0)
    assert(math.abs(r.getDouble(2) - 2.0 / (3.0 * 2.0)) < 1e-12)
  }

  test("partitioned parquet sink: partition pruning on read-back") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val df = Seq((1L, "a", 10), (2L, "b", 20), (3L, "a", 30)).toDF("id", "part_key", "v")
    graft.sources.Sources.writeParquet(df, dir, partitionBy = Seq("part_key"))
    val back = graft.sources.Sources.readParquet(spark, dir).where($"part_key" === "a")
    assert(back.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // partition filter must prune at the source, not post-scan
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("part_key"))
  }

  test("compaction: many small files rewrite to the size-targeted count") {
    val in = java.nio.file.Files.createTempDirectory("graft_frag").toString
    val out = java.nio.file.Files.createTempDirectory("graft_comp").toString
    val df = spark.range(2000).select($"id", ($"id" % 97).as("v"))
    df.repartition(50).write.mode("overwrite").parquet(in) // 50 tiny files
    def parquetFiles(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val smallBytes = parquetFiles(in).map(_.length()).sum
    assert(parquetFiles(in).length == 50)
    // target half the total => exactly 2 output files, data intact
    val n = graft.sources.Sources.compactParquet(spark, in, out,
      targetBytes = smallBytes / 2 + 1)
    assert(n == 2 && parquetFiles(out).length == 2)
    val back = spark.read.parquet(out)
    assert(back.count() == 2000)
    assert(back.agg(sum($"v")).head().getLong(0) ==
      df.agg(sum($"v")).head().getLong(0))
    // range-clustered variant keeps files min/max-disjoint on the sort key
    val out2 = java.nio.file.Files.createTempDirectory("graft_comp2").toString
    graft.sources.Sources.compactParquet(spark, in, out2,
      targetBytes = smallBytes / 2 + 1, sortCols = Seq("id"))
    val ranges = parquetFiles(out2).map { f =>
      val r = spark.read.parquet(f.getPath).agg(min($"id"), max($"id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Array((_, aMax), (bMin, _)) => aMax < bMin
      case _ => true
    }, s"overlapping file ranges: ${ranges.toSeq}")
  }

  test("bucketed tables equi-join without a shuffle") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the in-memory catalog is per-JVM but the warehouse dir persists:
      // drop any orphan locations from earlier runs before re-creating
      for (t <- Seq("b_facts", "b_dims")) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(
          new java.net.URI(spark.conf.get("spark.sql.warehouse.dir") + "/" + t))
        if (loc.exists()) {
          loc.listFiles().foreach(_.delete()); loc.delete()
        }
      }
      val facts = (1 to 1000).map(i => (i.toLong % 100, i.toLong)).toDF("k", "v")
      val dims = (0 to 99).map(i => (i.toLong, s"name$i")).toDF("k", "name")
      graft.sources.Sources.writeBucketed(facts, "b_facts", Seq("k"), 4, sortCols = Seq("k"))
      graft.sources.Sources.writeBucketed(dims, "b_dims", Seq("k"), 4, sortCols = Seq("k"))
      val joined = spark.table("b_facts").join(spark.table("b_dims"), "k")
      assert(joined.count() == 1000)
      // both sides read their co-located buckets: no Exchange in the plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"bucket scan not used:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("topK aggregate: desc order, ties kept, short groups returned whole") {
    val df = Seq((1L, 5L), (1L, 9L), (1L, 9L), (1L, 2L), (1L, 7L), (2L, 4L))
      .toDF("g", "v")
    val out = df.groupBy($"g")
      .agg(graft.expressions.TopKAgg.topK($"v", 3).as("tk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(out(1L) == Seq(9L, 9L, 7L)) // duplicate 9 retained
    assert(out(2L) == Seq(4L))          // group smaller than k
  }

  test("connected components: chains collapse to min label, parts stay apart") {
    // component {1,2,3,4} as a chain (diameter 3), component {10,11},
    // isolated pair {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("a_id", "b_id")
    val out = ConnectedComponents.labels(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: non-convergence at maxIter fails loudly") {
    // a diameter-7 path needs more than 1 propagation round; silently
    // returning split clusters would corrupt downstream dedup
    // driverLimit = 0 forces the distributed loop (the small-graph
    // union-find path has no iteration bound to trip)
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    intercept[IllegalStateException] {
      ConnectedComponents.labels(chain, maxIter = 1, driverLimit = 0).collect()
    }
    // and the same graph converges with enough rounds
    val ok = ConnectedComponents.labels(chain, maxIter = 10, driverLimit = 0)
      .collect().map(r => r.getLong(1)).distinct
    assert(ok.toSeq == Seq(1L))
  }

  test("fused MinHashAgg equals twoHashFamily + arrayMinAgg composition") {
    import org.apache.spark.sql.functions._
    val m54 = lit((1L << 54) - 1)
    val rows = Seq((1L, "aa bb"), (1L, "bb cc"), (1L, "dd"), (2L, "aa bb"), (3L, "zz"))
      .toDF("id", "s")
    def h1 = xxhash64($"s").bitwiseAND(m54)
    def h2 = xxhash64(lit(1), $"s").bitwiseAND(m54).bitwiseOR(lit(1L))
    val composed = rows.select($"id",
        graft.expressions.MinHashExpressions.twoHashFamily(h1, h2, 16).as("hs"))
      .groupBy($"id")
      .agg(graft.expressions.MinHashExpressions.arrayMinAgg($"hs", 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val fused = rows.groupBy($"id")
      .agg(graft.expressions.MinHashExpressions.minHashAgg(h1, h2, 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(fused == composed)
  }

  test("global rank equals single-partition window row_number") {
    val df = (1 to 500).map(i => ((i * 37) % 500, i.toLong)).toDF("v", "id")
    val viaWindow = df.withColumn("rank",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"v", $"id")).cast("long"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val viaGlobal = GlobalRank.withGlobalRank(df, Seq($"v", $"id"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaGlobal == viaWindow)
  }

  test("grouped prefix sum equals per-group window rank + exclusive running sum") {
    // 1000 rows over 3 low-cardinality groups, many range partitions —
    // exercises the cross-partition offset stitching
    val df = (1 to 1000).map { i =>
      (s"g${i % 3}", ((i * 37) % 1000).toLong, (i % 7 + 1).toLong)
    }.toDF("grp", "ord", "w")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"grp").orderBy($"ord")
    val viaWindow = df
      .withColumn("grp_rank",
        org.apache.spark.sql.functions.row_number().over(win).cast("long"))
      .withColumn("grp_prefix", org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum($"w").over(
          win.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        org.apache.spark.sql.functions.lit(0L)))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val viaOp = GlobalRank.withGroupedPrefixSum(df, Seq("grp"), Seq($"ord"), $"w")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(viaOp == viaWindow)
  }

  test("grouped prefix sum: empty input and single-group input") {
    val empty = Seq.empty[(String, Long, Long)].toDF("grp", "ord", "w")
    assert(GlobalRank.withGroupedPrefixSum(empty, Seq("grp"), Seq($"ord"), $"w").isEmpty)
    val one = Seq(("a", 1L, 5L), ("a", 2L, 7L), ("a", 3L, 11L)).toDF("grp", "ord", "w")
    val got = GlobalRank.withGroupedPrefixSum(one, Seq("grp"), Seq($"ord"), $"w")
      .orderBy("ord").collect().map(r => (r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq((1L, 0L), (2L, 5L), (3L, 12L)))
  }

  test("scd2 history: versions chain, trailing delete closes, last upsert current") {
    val changes = Seq(
      (1L, "a1", 100L, "U"), (1L, "a2", 200L, "U"),            // two versions, second current
      (2L, "b1", 100L, "U"), (2L, "bx", 200L, "D"),            // delete closes, no current row
      (3L, "c1", 100L, "U"))                                   // single current version
      .toDF("k", "name", "seq", "op")
    val out = Cdc.scd2History(changes, "k", "seq", "op")
      .orderBy("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
    assert(out.toSeq == Seq(
      (1L, "a1", 100L, Some(200L), false),
      (1L, "a2", 200L, None, true),
      (2L, "b1", 100L, Some(200L), false),
      (3L, "c1", 100L, None, true)))
  }

  test("cdc merge: latest change wins, deletes drop, new keys insert") {
    val snap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val changes = Seq(
      (1L, "a1", 11.0, 100L, "U"), (1L, "a2", 12.0, 200L, "U"), // latest wins
      (2L, "b1", 0.0, 100L, "D"),                               // delete
      (4L, "d", 40.0, 100L, "U"),                               // insert
      (3L, "c1", 31.0, 100L, "U"), (3L, "cx", 0.0, 200L, "D"))  // upsert then delete
      .toDF("k", "name", "bal", "seq", "op")
    val out = Cdc.applyChangelog(snap, changes, "k", "seq", "op")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, "a2", 12.0), (4L, "d", 40.0)))
  }

  test("keepFirst returns surviving full rows") {
    val df = Seq((3L, "dup text", "x"), (1L, "dup text", "y"), (2L, "other", "z"))
      .toDF("doc_id", "text", "meta")
    val out = Dedup.keepFirst(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(out == Set((1L, "y"), (2L, "z")))
  }

  test("media: batched stub decode is deterministic and schema-correct") {
    val docs = Seq((1L, "hello world"), (2L, "hello world"), (3L, "bye")).toDF("doc_id", "text")
    val f = graft.multimodal.Media.extractFeatures(
      graft.multimodal.Media.asMedia(docs, "doc_id", "text"), batchSize = 2)
      .collect().map(m => m.id -> m).toMap
    assert(f(1L).contentHash == f(2L).contentHash && f(1L).width == f(2L).width)
    assert(f(1L).contentHash != f(3L).contentHash)
    assert(f(1L).byteLen == 11L)
  }

  test("media: stub resize reports decode dims, exact scale factors, distinct hashes per target") {
    val docs = Seq((1L, "hello world"), (2L, "bye")).toDF("doc_id", "text")
    val media = graft.multimodal.Media.asMedia(docs, "doc_id", "text")
    val feats = graft.multimodal.Media.extractFeatures(media)
      .collect().map(m => m.id -> m).toMap
    val r = graft.multimodal.Media.resize(media, outW = 64, outH = 32)
      .collect().map(m => m.id -> m).toMap
    assert(r.size == 2)
    r.foreach { case (id, m) =>
      assert(m.origW == feats(id).width && m.origH == feats(id).height)
      assert(m.outW == 64 && m.outH == 32)
      assert(m.scaleX == 64.0 / m.origW && m.scaleY == 32.0 / m.origH)
      assert(m.resizedHash != feats(id).contentHash)
    }
    // different target size -> different resized content
    val r2 = graft.multimodal.Media.resize(media, outW = 32, outH = 32)
      .collect().map(m => m.id -> m.resizedHash).toMap
    assert(r.forall { case (id, m) => r2(id) != m.resizedHash })
  }

  test("Pipeline: stages fuse into one plan, per-stage row counts observed") {
    val df = (1 to 100).map(i => (i.toLong, i % 10)).toDF("id", "m")
    val result = Pipeline(df, Seq(
      Pipeline.Stage("keep_even", _.where($"m" % 2 === 0)),
      Pipeline.Stage("keep_small", _.where($"m" < 6)),
      Pipeline.Stage("project", _.select("id"))))
    assert(result.df.count() == 30) // m in {0,2,4}
    assert(result.rowCounts == Map(
      "keep_even" -> 50L, "keep_small" -> 30L, "project" -> 30L))
    // stage taps must not break fusion: both filters still collapse into
    // the scan stage (no exchange between them)
    assert(!result.df.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("readParquetLenient survives a corrupt file, strict read fails") {
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    (1 to 50).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartition(4).write.mode("overwrite").parquet(dir)
    // garbage where a parquet file should be (killed writer / bad disk)
    val victim = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    java.nio.file.Files.write(victim.toPath, Array.fill[Byte](64)(0x7f))
    val strict = intercept[org.apache.spark.SparkException] {
      spark.read.parquet(dir).count()
    }
    assert(strict.getMessage != null)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val rows = graft.sources.Sources.readParquetLenient(spark, dir, schema).count()
    assert(rows > 0 && rows < 50) // readable files survive, victim's rows lost
  }

  test("pipeline observability: observe() metrics surface without a second pass") {
    // production pipelines need row counts / checksums of what a job
    // ACTUALLY wrote; observe() accumulates them on the one existing pass
    // instead of a second count() scan over the output (which at 100 TB
    // doubles the read and can disagree with what was written)
    val obs = org.apache.spark.sql.Observation("etl_metrics")
    val df = Seq((1L, 5.0), (2L, 7.0), (3L, -1.0)).toDF("id", "v")
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(when($"v" < 0, 1L).otherwise(0L)).as("n_negative"))
      .where($"v" > 0) // observe sits ABOVE the filter: counts the input feed
    assert(df.count() == 2)
    assert(obs.get("n_rows") == 3L && obs.get("n_negative") == 1L)
  }

  test("hll sketch rollup: incremental union equals direct estimate, idempotent") {
    // distinct users per type, maintained incrementally: day-1 state + day-2
    // delta merged sketch-wise must estimate exactly what one direct sketch
    // over all rows does (register max-merge is split-invariant), and
    // re-merging the same delta must NOT inflate it (idempotent — a
    // re-delivered batch can't corrupt the rollup, unlike a count re-sum)
    val rows = (1 to 400).map(i => (s"t${i % 3}", (i % 97).toLong)) ++
      (1 to 200).map(i => (s"t${i % 3}", (i % 53 + 200).toLong))
    val df = rows.toDF("etype", "user_id")
    val (day1, day2) = (df.limit(400), df.exceptAll(df.limit(400)))
    def sk(d: org.apache.spark.sql.DataFrame) =
      d.groupBy("etype").agg(hll_sketch_agg($"user_id").as("users_sk"))
    val merged = IncrementalAgg.merge(sk(day1), sk(day2), Seq("etype"),
      Seq("users_sk" -> IncrementalAgg.MergeHllUnion))
    def est(d: org.apache.spark.sql.DataFrame) =
      d.select($"etype", hll_sketch_estimate($"users_sk").as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = est(sk(df))
    assert(est(merged) == direct)
    val remerged = IncrementalAgg.merge(merged, sk(day2), Seq("etype"),
      Seq("users_sk" -> IncrementalAgg.MergeHllUnion))
    assert(est(remerged) == direct)
    // sanity: the estimate is near the true distinct count per type
    val truth = rows.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).distinct.size }
    direct.foreach { case (t, e) =>
      assert(math.abs(e - truth(t)) <= math.max(2, truth(t) / 20))
    }
  }

  test("forwardFill: carries last non-null per key in order, leading nulls stay") {
    val df = Seq(
      (1L, 1L, None), (1L, 2L, Some(10.0)), (1L, 3L, None), (1L, 4L, Some(20.0)),
      (2L, 1L, None), (2L, 2L, None))
      .toDF("k", "seq", "v")
    val out = EtlOps.forwardFill(df, Seq("k"), Seq("seq"), Seq("v"))
      .orderBy("k", "seq").collect()
    val filled = out.map(r => if (r.isNullAt(3)) null else r.getDouble(3))
    assert(filled.toSeq == Seq(null, 10.0, 10.0, 20.0, null, null))
  }

  test("diffSnapshots: added/deleted/changed/unchanged classified null-safely") {
    val old = Seq((1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("d")))
      .toDF("id", "v")
    val nw = Seq((1L, Some("a")), (2L, Some("B")), (3L, Some("c")), (5L, Some("e")))
      .toDF("id", "v")
    val out = EtlOps.diffSnapshots(old, nw, Seq("id"), Seq("v"))
      .select("id", "change_type").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "changed", // NULL -> value must count as changed
      4L -> "deleted", 5L -> "added"))
  }

  test("lloydStep: single-member centroids reproduce their vector exactly") {
    // stride 1: every vector is its own centroid -> each assigns to itself
    // (cosine 1.0, ties to the smaller c_id = its own) and the "mean" of a
    // one-element list is the coordinate itself, fold exact
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), (2L, Array(-1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val out = IvfIndex.lloydStep(df, "vec_id", "embedding", stride = 1)
      .orderBy("c_id", "pos").collect()
    assert(out.length == 6)
    assert(out.forall(_.getAs[Long]("n_members") == 1L))
    val m = out.map(r => (r.getAs[Long]("c_id"), r.getAs[Int]("pos")) ->
      r.getAs[Double]("mean")).toMap
    assert(m((2L, 0)) == -1.0 && m((2L, 1)) == 0.5 && m((0L, 0)) == 1.0)
  }

  test("lloydStep: two members average, counts match the assignment") {
    // centroid stride 2 over colinear vectors: ids 0,1 both nearest c0 when
    // cosine ties break toward smaller c_id; construct so assignment is
    // unambiguous instead: c0=(1,0), c2=(0,1); members (0.9,0.1)->c0,
    // (0.1,0.9)->c2
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val out = IvfIndex.lloydStep(df, "vec_id", "embedding", stride = 2)
      .orderBy("c_id", "pos").collect()
    val m = out.map(r => (r.getAs[Long]("c_id"), r.getAs[Int]("pos")) ->
      (r.getAs[Long]("n_members"), r.getAs[Double]("mean"))).toMap
    assert(m((0L, 0))._1 == 2L && m((2L, 0))._1 == 2L)
    assert(math.abs(m((0L, 0))._2 - (1.0 + 0.9f.toDouble) / 2) < 1e-12)
    assert(math.abs(m((2L, 1))._2 - (1.0 + 0.9f.toDouble) / 2) < 1e-12)
  }

  test("lloydStep and lloydTrain: bit-identical to the relational window " +
    "formulation on ties, NaN, null and wrong-length vectors, an empty " +
    "centroid set and a centroid emptied by iteration 2") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    def v(xs: Double*): Seq[java.lang.Double] = xs.map(Double.box)
    val nan = Double.NaN
    for (idType <- Seq(LongType, IntegerType)) {
      val corpora = Seq(
        // centroid 0 has members 0 and 1 in iteration 1 and none in 2
        "emptied by iteration 2" -> RelationalIvf.vectors(spark, idType,
          0L -> v(-2, -4), 1L -> v(-1, 5), 2L -> v(1, -2), 3L -> v(2, 5),
          4L -> v(-1, -5)),
        "ties, NaN, null, wrong length" -> RelationalIvf.vectors(spark, idType,
          0L -> v(1, 1), 2L -> v(1, 1), 4L -> v(1, -1), 6L -> v(-2, 0.25),
          1L -> v(1, 0), 3L -> v(nan, 1), 5L -> null, 7L -> v(1, 2, 3),
          9L -> v(0.5, -2), 11L -> Seq(null, 1.0), 13L -> v(-3, 0.5),
          15L -> v(0.25, 4)),
        "empty centroid set" -> RelationalIvf.vectors(spark, idType,
          1L -> v(1, 0), 3L -> v(0, 1)))
      for ((name, df) <- corpora) {
        val step = IvfIndex.lloydStep(df, "vec_id", "embedding", 2)
        val stepRef = RelationalIvf.lloydStep(df, "vec_id", "embedding", 2)
        assert(step.schema.map(_.dataType) == stepRef.schema.map(_.dataType), name)
        assert(RelationalIvf.rawBits(step) == RelationalIvf.rawBits(stepRef), s"$name ($idType)")
        val train = IvfIndex.lloydTrain(df, "vec_id", "embedding", 2, iters = 3)
        val trainRef = RelationalIvf.lloydTrain(df, "vec_id", "embedding", 2, iters = 3)
        assert(train.schema.map(_.dataType) == trainRef.schema.map(_.dataType), name)
        assert(RelationalIvf.rawBits(train) == RelationalIvf.rawBits(trainRef), s"$name ($idType)")
      }
    }
    val emptied = IvfIndex.lloydTrain(RelationalIvf.vectors(spark, LongType,
        0L -> v(-2, -4), 1L -> v(-1, 5), 2L -> v(1, -2), 3L -> v(2, 5),
        4L -> v(-1, -5)), "vec_id", "embedding", 2, iters = 2)
      .select("iter", "c_id").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(emptied(1 -> 0L) && !emptied(2 -> 0L), emptied)
  }
}
