package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Bucketed graft-catalog tables and the storage-partitioned join: rows
  * hash into `bucket(n, col)` buckets carried in the file name, the scan
  * reports `KeyGroupedPartitioning`, the catalog serves the bucket
  * function, and two co-bucketed tables join with ZERO shuffle — the plan
  * shape that, at 100 TB, deletes the dominant Exchange of a fact-fact
  * equi-join. Assertions are at the PLAN level (no ShuffleExchange) plus
  * value-level equality with the unbucketed replay.
  */
class GraftBucketSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_bucket_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_bk", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_bk.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_bk.db")
  }

  private def listFiles(table: String): Seq[String] = {
    val dir = new java.io.File(s"$warehouse/db/$table")
    dir.listFiles().toSeq.map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
      .sorted
  }

  /** Final-plan string (descending into AQE's wrapper — `collect` over
    * `executedPlan` does not reach the adaptively-final tree).
    */
  private def planString(df: DataFrame): String = {
    df.collect() // force AQE final plan
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
  }

  private def hasShuffle(df: DataFrame): Boolean = planString(df).contains("Exchange")

  /** Run `body` with broadcast joins disabled, so small spec tables take
    * the storage-partitioned-join path a 100 TB fact-fact join would.
    */
  private def noBroadcast[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed create/insert/select round trip; bucket ids in file names") {
    sql("""CREATE TABLE graft_bk.db.t1 (k BIGINT, v STRING)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
    sql("INSERT INTO graft_bk.db.t1 SELECT id, concat('v', id) FROM range(0, 1000)")
    assert(sql("SELECT count(*) FROM graft_bk.db.t1").head.getLong(0) == 1000L)
    val files = listFiles("t1")
    assert(files.nonEmpty && files.forall(_.matches("""b\d{5}-.*""")),
      s"every data file must carry its bucket id: $files")
    val buckets = files.flatMap(GraftBucket.fileBucketId(_)).distinct.sorted
    assert(buckets.forall(b => b >= 0 && b < 4))
    // clustered write distribution: one file per (bucket, write), not
    // one per (task, bucket)
    assert(files.size == buckets.size,
      s"clustered write should leave one file per bucket: $files")
    // plain parquet interop: same rows, no phantom columns
    val native = spark.read.parquet(s"$warehouse/db/t1")
    assert(native.columns.toSeq.sorted == Seq("k", "v"))
    assert(native.count() == 1000L)
  }

  test("co-bucketed join plans ZERO shuffles (storage-partitioned join)") {
    sql("""CREATE TABLE graft_bk.db.fact (k BIGINT, amt DOUBLE)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
    sql("""CREATE TABLE graft_bk.db.dim2 (k BIGINT, label STRING)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
    sql("INSERT INTO graft_bk.db.fact SELECT id % 500, id * 1.5 FROM range(0, 5000)")
    sql("INSERT INTO graft_bk.db.dim2 SELECT id, concat('d', id) FROM range(0, 600)")
    noBroadcast {
      val j = sql("""SELECT f.k, count(*) AS n, sum(f.amt) AS s
                    |FROM graft_bk.db.fact f JOIN graft_bk.db.dim2 d ON f.k = d.k
                    |GROUP BY f.k""".stripMargin)
      val plan = planString(j)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled-family join operator:\n$plan")
      assert(!plan.contains("Exchange"),
        "co-bucketed graft tables must join without an Exchange " +
          s"(storage-partitioned join):\n$plan")
      // values match the unbucketed replay
      val expect = spark.range(0, 5000)
        .selectExpr("id % 500 AS k", "CAST(id * 1.5 AS DOUBLE) AS amt")
        .join(spark.range(0, 600).selectExpr("id AS k"), "k")
        .groupBy("k").agg(
          org.apache.spark.sql.functions.count("*").as("n"),
          org.apache.spark.sql.functions.sum("amt").as("s"))
      val got = j.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      val exp = expect.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      assert(got.toSeq == exp.toSeq)
    }
  }

  test("mismatched bucket counts fall back to a correct shuffled join") {
    sql("""CREATE TABLE graft_bk.db.odd (k BIGINT, x STRING)
          |PARTITIONED BY (bucket(3, k))""".stripMargin)
    sql("INSERT INTO graft_bk.db.odd SELECT id, concat('x', id) FROM range(0, 300)")
    noBroadcast {
      val j = sql("""SELECT count(*) AS n FROM graft_bk.db.fact f
                    |JOIN graft_bk.db.odd o ON f.k = o.k""".stripMargin)
      // correctness first: bucket(4) vs bucket(3) cannot co-locate
      assert(j.head.getLong(0) ==
        spark.range(0, 5000).selectExpr("id % 500 AS k")
          .join(spark.range(0, 300).selectExpr("id AS k"), "k").count())
      assert(hasShuffle(j), "incompatible bucket counts must shuffle")
    }
  }

  test("string bucket keys work and null keys land deterministically") {
    sql("""CREATE TABLE graft_bk.db.skey (name STRING, n BIGINT)
          |PARTITIONED BY (bucket(4, name))""".stripMargin)
    sql("""INSERT INTO graft_bk.db.skey
          |SELECT CASE WHEN id % 10 = 0 THEN NULL ELSE concat('u', id % 97) END, id
          |FROM range(0, 500)""".stripMargin)
    assert(sql("SELECT count(*) FROM graft_bk.db.skey").head.getLong(0) == 500L)
    assert(sql("SELECT count(*) FROM graft_bk.db.skey WHERE name IS NULL")
      .head.getLong(0) == 50L)
    sql("""CREATE TABLE graft_bk.db.skey2 (name STRING, tag STRING)
          |PARTITIONED BY (bucket(4, name))""".stripMargin)
    sql("""INSERT INTO graft_bk.db.skey2
          |SELECT concat('u', id), concat('t', id) FROM range(0, 97)""".stripMargin)
    noBroadcast {
      val j = sql("""SELECT count(*) AS n FROM graft_bk.db.skey a
                    |JOIN graft_bk.db.skey2 b ON a.name = b.name""".stripMargin)
      assert(j.head.getLong(0) == 450L) // null names never match
      assert(!hasShuffle(sql(
        """SELECT a.name FROM graft_bk.db.skey a
          |JOIN graft_bk.db.skey2 b ON a.name = b.name""".stripMargin)),
        "co-bucketed string-key join must be storage-partitioned")
    }
  }

  test("row-level UPDATE preserves bucket placement; SPJ survives") {
    sql("UPDATE graft_bk.db.fact SET amt = amt + 1000 WHERE k < 50")
    val files = listFiles("fact")
    assert(files.forall(_.matches("""b\d{5}-.*""")),
      s"rewritten files must keep bucket prefixes: $files")
    noBroadcast {
      val j = sql("""SELECT f.k FROM graft_bk.db.fact f
                    |JOIN graft_bk.db.dim2 d ON f.k = d.k""".stripMargin)
      assert(!hasShuffle(j), "SPJ must survive a copy-on-write UPDATE")
    }
    // the update applied
    val lifted = sql("SELECT min(amt) FROM graft_bk.db.fact WHERE k < 50").head.getDouble(0)
    assert(lifted >= 1000.0)
  }

  test("per-bucket compaction keeps placement and the shuffle-free join") {
    sql("INSERT INTO graft_bk.db.fact SELECT id % 500, id * 0.5 FROM range(0, 1000)")
    sql("INSERT INTO graft_bk.db.fact SELECT id % 500, id * 0.25 FROM range(0, 1000)")
    val before = listFiles("fact")
    assert(before.size > 4, s"need multiple files per bucket, got $before")
    val (nBefore, nAfter) =
      GraftMaintenance.compactBucketedTable(spark, TestTables.at(s"$warehouse/db/fact"))
    assert(nBefore == before.size && nAfter == 4,
      s"compaction should leave one file per bucket: $nBefore -> $nAfter")
    val files = listFiles("fact")
    assert(files.size == 4 && files.forall(_.matches("""b\d{5}-.*""")))
    noBroadcast {
      val j = sql("""SELECT count(*) AS n, sum(f.amt) AS s
                    |FROM graft_bk.db.fact f JOIN graft_bk.db.dim2 d ON f.k = d.k""".stripMargin)
      assert(!hasShuffle(sql(
        """SELECT f.k FROM graft_bk.db.fact f
          |JOIN graft_bk.db.dim2 d ON f.k = d.k""".stripMargin)),
        "SPJ must survive compaction")
      // every fact row's key is in [0, 500) ⊂ dim2's [0, 600) keys
      assert(j.head.getLong(0) == 5000L + 1000L + 1000L)
    }
  }

  test("one-file-per-bucket scans report ordering: SPJ drops its Sorts") {
    sql("""CREATE TABLE graft_bk.db.sf (k BIGINT, amt BIGINT)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
    sql("""CREATE TABLE graft_bk.db.sd (k BIGINT, tag STRING)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
    // ONE insert each -> clustered+sorted write leaves one key-sorted
    // file per bucket -> the scan reports [k ASC] and the merge join
    // needs neither Exchange nor Sort
    sql("INSERT INTO graft_bk.db.sf SELECT id % 400, id FROM range(0, 4000)")
    sql("INSERT INTO graft_bk.db.sd SELECT id, concat('t', id) FROM range(0, 450)")
    noBroadcast {
      val j = sql("""SELECT f.k, f.amt, d.tag FROM graft_bk.db.sf f
                    |JOIN graft_bk.db.sd d ON f.k = d.k""".stripMargin)
      val plan = planString(j)
      assert(plan.contains("SortMergeJoin"), s"expected a merge join:\n$plan")
      assert(!plan.contains("Exchange"), s"expected zero shuffles:\n$plan")
      assert(!plan.contains(" Sort ["),
        s"one-file-per-bucket SPJ must not re-sort:\n$plan")
      assert(j.count() ==
        spark.range(0, 4000).selectExpr("id % 400 AS k")
          .join(spark.range(0, 450).selectExpr("id AS k"), "k").count())
    }
    // a second insert doubles the files per bucket -> ordering claim is
    // withdrawn (concatenated buckets are unsorted) but results stay right
    sql("INSERT INTO graft_bk.db.sf SELECT id % 400, id + 9000 FROM range(0, 400)")
    noBroadcast {
      val j2 = sql("""SELECT f.k FROM graft_bk.db.sf f
                     |JOIN graft_bk.db.sd d ON f.k = d.k""".stripMargin)
      val plan2 = planString(j2)
      assert(plan2.contains(" Sort ["),
        s"multi-file buckets must re-sort before the merge join:\n$plan2")
      assert(j2.count() == 4400)
    }
    // per-bucket compaction restores the single sorted file and the claim
    GraftMaintenance.compactBucketedTable(spark, TestTables.at(s"$warehouse/db/sf"))
    noBroadcast {
      val j3 = sql("""SELECT f.k, f.amt, d.tag FROM graft_bk.db.sf f
                     |JOIN graft_bk.db.sd d ON f.k = d.k""".stripMargin)
      val plan3 = planString(j3)
      assert(!plan3.contains(" Sort [") && !plan3.contains("Exchange"),
        s"compaction must restore the sort-free SPJ:\n$plan3")
      assert(j3.count() == 4400)
    }
  }

  test("groupBy on the bucket key aggregates without an Exchange") {
    // KeyGroupedPartitioning co-locates equal keys, so the hash aggregate
    // completes within the grouped partitions — at 100 TB the daily
    // per-key rollup over a bucketed fact table is shuffle-free
    val q = sql("SELECT k, count(*) AS n, sum(amt) AS s FROM graft_bk.db.fact GROUP BY k")
    val plan = planString(q)
    assert(!plan.contains("Exchange"),
      s"bucket-key aggregation must not shuffle:\n$plan")
    // values match a plain-parquet replay of the same table directory
    val expect = spark.read.parquet(s"$warehouse/db/fact")
      .groupBy("k").count().count()
    assert(q.count() == expect)
  }

  test("rejections: identity+bucket, drop bucket column, bad key type") {
    intercept[Exception] {
      sql("""CREATE TABLE graft_bk.db.bad1 (k BIGINT, p STRING, v STRING)
            |PARTITIONED BY (p, bucket(4, k))""".stripMargin)
    }
    // merge-on-read now COMPOSES with bucketing (GraftMorLayoutSpec)
    intercept[Exception] {
      sql("ALTER TABLE graft_bk.db.t1 DROP COLUMN k")
    }
    // unsupported key type fails loudly at CREATE
    intercept[Exception] {
      sql("""CREATE TABLE graft_bk.db.bad3 (k DOUBLE, v STRING)
            |PARTITIONED BY (bucket(4, k))""".stripMargin)
    }
  }

  test("BucketId expression: bit-identical to GraftBucket.bucket for " +
    "every key type, null -> 0, codegen-native (no ScalaUDF in the plan)") {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val n = 8
    def bucketOf(c: org.apache.spark.sql.Column, nb: Int) =
      Bridge.column(graft.expressions.BucketId(Bridge.expression(c), nb))
    // long keys, incl. null
    val longs = Seq[java.lang.Long](1L, 42L, -7L, 0L, null).toDF("k")
      .select(col("k"), bucketOf(col("k"), n).as("b")).collect()
    longs.foreach { r =>
      val expect =
        if (r.isNullAt(0)) 0
        else GraftBucket.bucket(org.apache.spark.sql.types.LongType,
          r.getLong(0), n)
      assert(r.getInt(1) == expect, s"long ${r.get(0)}")
    }
    // int keys
    val ints = Seq[java.lang.Integer](3, -100, null).toDF("k")
      .select(col("k"), bucketOf(col("k"), n).as("b")).collect()
    ints.foreach { r =>
      val expect =
        if (r.isNullAt(0)) 0
        else GraftBucket.bucket(org.apache.spark.sql.types.IntegerType,
          r.getInt(0), n)
      assert(r.getInt(1) == expect, s"int ${r.get(0)}")
    }
    // string keys hash their UTF-8 bytes
    val strs = Seq("alpha", "", null).toDF("k")
      .select(col("k"), bucketOf(col("k"), n).as("b")).collect()
    strs.foreach { r =>
      val expect =
        if (r.isNullAt(0)) 0
        else GraftBucket.bucket(org.apache.spark.sql.types.StringType,
          org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)), n)
      assert(r.getInt(1) == expect, s"str ${r.get(0)}")
    }
    // the routing plan is native: the expression shows by name, and no
    // ScalaUDF appears anywhere (the write-path audit this closes)
    val df = spark.range(0, 100).toDF("k")
      .select(col("k"), bucketOf(col("k"), n).as("b"))
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("graft_bucket_id"), planStr)
    assert(!planStr.contains("ScalaUDF"), planStr)
    // wrong key type refuses at analysis
    val bad = intercept[Exception](
      Seq(1.5d).toDF("k").select(bucketOf(col("k"), n)).collect())
    assert(bad.getMessage.toLowerCase.contains("bigint") ||
      bad.getMessage.contains("graft_bucket_id"))
  }

  test("bucket pruning: equality / IN predicates on the bucket key plan " +
      "only the claimed buckets' files, conjunctions intersect, other " +
      "predicates leave the bucket set alone") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import spark.implicits._
    sql("""CREATE TABLE graft_bk.db.pr (k BIGINT, v STRING)
          |PARTITIONED BY (bucket(8, k))
          |TBLPROPERTIES('history'='true')""".stripMargin)
    // two appends -> two files per bucket
    sql("INSERT INTO graft_bk.db.pr SELECT id, concat('a', id) FROM range(0, 400)")
    sql("INSERT INTO graft_bk.db.pr SELECT id, concat('b', id) FROM range(400, 800)")
    def planned(df: DataFrame): Seq[(String, Int)] = {
      val scan = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }.head
      scan.toBatch.planInputPartitions().toSeq.collect {
        case p: GraftBucketedFilePartition => (p.file, p.bucketId)
      }
    }
    val all = planned(spark.table("graft_bk.db.pr"))
    assert(all.size == 16, s"expected 16 files, planned ${all.size}")
    val lt = org.apache.spark.sql.types.LongType
    // point lookup: only the key's bucket is planned — 1/8 of the files
    // from pure name metadata
    val b7 = GraftBucket.bucket(lt, 7L, 8)
    val point = planned(spark.table("graft_bk.db.pr").where(col("k") === 7))
    assert(point.nonEmpty && point.forall(_._2 == b7),
      s"point lookup must plan only bucket $b7: $point")
    assert(point.size <= all.count(_._2 == b7))
    assert(spark.table("graft_bk.db.pr").where(col("k") === 7)
      .collect().map(_.getString(1)).sorted.toSeq == Seq("a7"))
    // IN list: the union of the literals' buckets
    val targets = Set(7L, 500L).map(GraftBucket.bucket(lt, _, 8))
    val inPlan = planned(spark.table("graft_bk.db.pr")
      .where(col("k").isin(7L, 500L)))
    assert(inPlan.nonEmpty && inPlan.forall(p => targets.contains(p._2)),
      s"IN must plan only buckets $targets: $inPlan")
    assert(spark.table("graft_bk.db.pr").where(col("k").isin(7L, 500L))
      .count() == 2)
    // composite predicates keep the bucket cut: an equality AND a range
    // on the key still plan only the equality's bucket (contradictory
    // equality pairs never reach the scan — Catalyst folds them to an
    // empty relation; the defensive set-intersection in the scan covers
    // any pushdown shape that does survive)
    val conj = planned(spark.table("graft_bk.db.pr")
      .where(col("k") === 7 && col("k") < 100))
    assert(conj.nonEmpty && conj.forall(_._2 == b7),
      s"equality+range must plan only bucket $b7: $conj")
    // a predicate off the bucket key leaves the bucket set alone (stats
    // may still prune, but multiple buckets survive)
    val off = planned(spark.table("graft_bk.db.pr").where(col("v") >= "a"))
    assert(off.map(_._2).distinct.size > 1,
      "non-key predicates must not bucket-prune")
    // string bucket keys hash their UTF-8 bytes — same pruning
    sql("""CREATE TABLE graft_bk.db.prs (s STRING, v BIGINT)
          |PARTITIONED BY (bucket(4, s))
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 100).select(concat(lit("key"), col("id")).as("s"),
      col("id").as("v")).writeTo("graft_bk.db.prs").append()
    val bs = GraftBucket.bucket(org.apache.spark.sql.types.StringType,
      org.apache.spark.unsafe.types.UTF8String.fromString("key42"), 4)
    val sPlan = planned(spark.table("graft_bk.db.prs")
      .where(col("s") === "key42"))
    assert(sPlan.nonEmpty && sPlan.forall(_._2 == bs),
      s"string point lookup must plan only bucket $bs: $sPlan")
    assert(spark.table("graft_bk.db.prs").where(col("s") === "key42")
      .collect().map(_.getLong(1)).toSeq == Seq(42L))
  }
}
