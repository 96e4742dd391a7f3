package graft

import graft.expressions.{DotProduct, LshBuckets}
import graft.sources.{GraftCatalog, GraftTable}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, ExpressionInfo, Literal, Multiply, Sqrt}
import org.apache.spark.sql.functions.{col, countDistinct}
import org.apache.spark.sql.graftbridge.Bridge

/** Session extension wiring for the graft custom expressions, so SQL users
  * get them too:
  *
  *   spark.sql.extensions=graft.GraftExtensions        (cluster config), or
  *   GraftExtensions.register(spark)                   (existing session)
  *
  *   SELECT vec_dot(a.embedding, b.embedding) FROM ...
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    GraftExtensions.tableFunctions.foreach { case (name, info, builder) =>
      ext.injectTableFunction((FunctionIdentifier(name), info, builder))
    }
    // native resolution of STORED VIEWS in graft catalogs — the wiring
    // Spark's dormant DSv2 ViewCatalog interface is missing (see
    // GraftViewSubstitution); sessions registered imperatively instead
    // (GraftExtensions.register) reach views through the graft_view TVF
    ext.injectResolutionRule(s =>
      new org.apache.spark.sql.graftbridge.GraftViewSubstitution(s))
    // native CREATE/DROP/SHOW VIEW DDL on graft catalogs. Injected into
    // the HINT-resolution batch: it runs BEFORE the Resolution batch
    // where ResolveSessionCatalog throws MISSING_CATALOG_ABILITY for any
    // v2 catalog, so the statement is rerouted while it still carries
    // its UnresolvedIdentifier (see GraftViewDDL)
    ext.injectHintResolutionRule(s =>
      new org.apache.spark.sql.graftbridge.GraftViewDDL(s))
    // governance enforcement: masking / row-filter policies declared on
    // graft tables rewrite every read (batch + streaming) — see
    // GraftGovernance for the enforcement-boundary contract
    ext.injectResolutionRule(s =>
      new org.apache.spark.sql.graftbridge.GraftGovernanceRule(s))
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[DotProduct].getName, null, name, usage, "", "", "",
      "", "4.0.0", "", "built-in")

  private def norm(v: Expression): Expression = Sqrt(DotProduct(v, v))

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Number, _) => v.intValue()
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private def oneArg(args: Seq[Expression], name: String): Expression = {
    require(args.length == 1, s"$name takes exactly one argument, got ${args.length}")
    args.head
  }

  private def stringArg(e: Expression, name: String): String = e match {
    case Literal(v, org.apache.spark.sql.types.StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$name must be a string literal, got $other")
  }

  /** Resolve a consistency group: the catalog's latest, or the given id. */
  private def resolveGroup(s: SparkSession, cat: String,
                           idArg: Option[Expression], what: String)
      : (Long, String, Seq[(String, Long)]) = {
    val g = GraftCatalog.named(s, cat)
    val fsx = g.warehouseDir.getFileSystem(s.sessionState.newHadoopConf())
    val groups = graft.sources.GraftBranch.readGroups(fsx, g.warehouseDir)
    require(groups.nonEmpty,
      s"$what: no publish groups recorded in catalog $cat")
    idArg match {
      case None => groups.last
      case Some(e) =>
        val id = intArg(e, s"$what: group_id").toLong
        groups.find(_._1 == id).getOrElse(
          throw new IllegalArgumentException(
            s"$what: no group $id (have " +
              s"${groups.map(_._1).mkString(", ")})"))
    }
  }

  /** The graft table a TVF names: the catalog is its first argument and
    * the table (`'ns.t'`) its second; loaded once through the catalog.
    */
  private def tableArg(args: Seq[Expression], fname: String,
                       what: String = "table"): GraftTable =
    GraftTable.load(SparkSession.active,
      stringArg(args.head, s"$fname: catalog"), stringArg(args(1), s"$fname: $what"))

  /** The graft catalog a TVF's first argument names. */
  private def catalogArg(args: Seq[Expression], fname: String): GraftCatalog =
    GraftCatalog.named(SparkSession.active, stringArg(args.head, s"$fname: catalog"))

  /** A loaded table's filesystem and directory. */
  private def fsDir(t: GraftTable): (FileSystem, Path) = {
    val p = new Path(t.dir)
    (p.getFileSystem(SparkSession.active.sessionState.newHadoopConf()), p)
  }

  /** A version-or-tag argument: an integer literal, or a string parsed by
    * [[graft.sources.GraftRefs.versionOf]] against `t`'s tags.
    */
  private def versionOrTagArg(e: Expression, t: GraftTable, fname: String): Long =
    if (e.dataType == org.apache.spark.sql.types.StringType) {
      val (fs, p) = fsDir(t)
      graft.sources.GraftRefs.versionOf(fs, p,
        stringArg(e, s"$fname: version_or_tag"), fname)
    } else intArg(e, s"$fname: version").toLong

  /** Timestamp-string → epoch millis under the SESSION time zone (the
    * rule TIMESTAMP literals resolve by — Spark's own parser, so the
    * string and literal spellings of one instant always agree); None on
    * a parse failure.
    */
  private def sessionTsMillis(s: String): Option[Long] =
    org.apache.spark.sql.catalyst.util.DateTimeUtils.stringToTimestamp(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
        SparkSession.active.sessionState.conf.sessionLocalTimeZone))
      .map(_ / 1000L)

  /** A commit BOUND for the diff/changes verbs: an integer version, a
    * TAG name (the named-ref resolution VERSION AS OF uses), or a
    * TIMESTAMP (literal, or a 'yyyy-mm-dd hh:mm:ss[.f]' string tried
    * after tags — parsed in the SESSION time zone, exactly like a
    * TIMESTAMP literal resolves, so the two spellings can never name
    * different versions when spark.sql.session.timeZone differs from
    * the JVM default) resolved through
    * [[GraftTable.versionAtOrBefore]] — the SAME
    * at-or-before rule as TIMESTAMP AS OF, one code path for every
    * timestamp-bounded surface.
    */
  private def resolveVersionBound(t: GraftTable, e: Expression, which: String,
                                  fname: String): Long = {
    val (fs, dir) = fsDir(t)
    def atOrBefore(millis: Long, shown: Any): Long =
      GraftTable.versionAtOrBefore(fs, dir, millis)
        .getOrElse(throw new IllegalArgumentException(
          s"$fname: ${t.name()} has no snapshot at or before " +
            s"$which '$shown'"))
    e match {
      case Literal(us: Long, org.apache.spark.sql.types.TimestampType) =>
        atOrBefore(us / 1000L, java.time.Instant.ofEpochMilli(us / 1000L))
      case Literal(v: Number, _) => v.longValue()
      case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
        graft.sources.GraftRefs.resolve(fs, dir, s.toString).orElse {
          // not a tag: try it as a timestamp string; a PARSE failure
          // falls through to the combined refusal, an out-of-range
          // timestamp stays loud
          sessionTsMillis(s.toString).map(ms => atOrBefore(ms, s))
        }.getOrElse(throw new IllegalArgumentException(
          s"$fname: $which '$s' is neither a tag of " +
            s"${t.name()} (tags: ${graft.sources.GraftRefs
              .readAll(fs, dir).keys.toSeq.sorted.mkString(", ")}) " +
            "nor a 'yyyy-mm-dd hh:mm:ss[.f]' timestamp"))
      case other => throw new IllegalArgumentException(
        s"$fname: $which must be an integer, tag-name or " +
          s"timestamp literal, got $other")
    }
  }

  /** Retained manifest versions of an ANN corpus table, when it is a
    * graft HISTORY table (the shape whose `.changes` feed delete-aware ANN
    * maintenance reads) — empty for anything else.
    */
  private def annCorpusVersions(s: SparkSession, cat: String,
                                corpusTbl: String): Seq[Long] =
    scala.util.Try(GraftTable.load(s, cat, corpusTbl)).toOption
      .filter(_.history).toSeq
      .flatMap { ct =>
        val (cfs, cdir) = fsDir(ct)
        GraftTable.manifestVersions(cfs, cdir)
      }

  /** Per-column skip overlap of `t`'s current files, from the stats log
    * (graft_skip_stats, graft_layout_advice).
    */
  private def skipOverlap(t: GraftTable): Seq[(String, Int, Double)] = {
    val (fs, p) = fsDir(t)
    val liveNames: Set[String] =
      (if (t.history) {
        val v = GraftTable.manifestVersions(fs, p).last
        GraftTable.readManifest(fs, p, v)
      } else GraftTable.dataFiles(fs, p))
        .map(f => new Path(f).getName).toSet
    val stats = graft.sources.GraftFileLog.stats(fs, p)
      .filter { case (n, _) => liveNames.contains(n) }.values.toSeq
    graft.sources.GraftStats.skipEffectiveness(t.physicalSchema, stats)
  }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("vec_dot",
      info("vec_dot", "vec_dot(a, b) - dot product of two array<double> columns"),
      (args: Seq[Expression]) => DotProduct(args.head, args(1))),
    ("vec_norm",
      info("vec_norm", "vec_norm(a) - L2 norm of an array<double> column"),
      (args: Seq[Expression]) => norm(args.head)),
    ("vec_cosine",
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity of two array<double> columns"),
      (args: Seq[Expression]) =>
        Divide(DotProduct(args.head, args(1)), Multiply(norm(args.head), norm(args(1))))),
    ("top_k_agg",
      info("top_k_agg", "top_k_agg(v, k) - aggregate: k largest bigint values, desc-sorted"),
      (args: Seq[Expression]) =>
        graft.expressions.TopKAgg(args.head, intArg(args(1), "top_k_agg: k"))),
    ("freq_sketch",
      info("freq_sketch",
        "freq_sketch(item, k) - aggregate: Misra-Gries top-frequency summary, <= k counters"),
      (args: Seq[Expression]) =>
        graft.expressions.FreqSketchAgg(args.head, intArg(args(1), "freq_sketch: k"))),
    ("kll_sketch",
      info("kll_sketch",
        "kll_sketch(v, k) - aggregate: KLL quantile sketch of a double column (binary)"),
      (args: Seq[Expression]) =>
        graft.expressions.KllSketchAgg(args.head, intArg(args(1), "kll_sketch: k"))),
    ("kll_merge",
      info("kll_merge", "kll_merge(a, b) - merge two serialized KLL sketches"),
      (args: Seq[Expression]) =>
        graft.expressions.KllMerge(args.head, args(1))),
    ("kll_quantile",
      info("kll_quantile",
        "kll_quantile(sk, r) - quantile at normalized rank r from a KLL sketch"),
      (args: Seq[Expression]) =>
        graft.expressions.KllQuantile(args.head, args(1))),
    ("kll_count",
      info("kll_count", "kll_count(sk) - total update count of a KLL sketch"),
      (args: Seq[Expression]) =>
        graft.expressions.KllCount(args.head)),
    // theta sketch family: mergeable distinct SETS with intersection
    // algebra (HLL only unions) — audience overlap from stored rollups
    ("theta_sketch",
      info("theta_sketch",
        "theta_sketch(key, k) - aggregate: theta distinct-set sketch (binary)"),
      (args: Seq[Expression]) =>
        graft.expressions.ThetaSketchAgg(args.head, intArg(args(1), "theta_sketch: k"))),
    ("theta_union",
      info("theta_union", "theta_union(a, b) - union of two theta sketches"),
      (args: Seq[Expression]) =>
        graft.expressions.ThetaUnion(args.head, args(1))),
    ("theta_intersect_count",
      info("theta_intersect_count",
        "theta_intersect_count(a, b) - intersection cardinality of two theta sketches"),
      (args: Seq[Expression]) =>
        graft.expressions.ThetaIntersectCount(args.head, args(1))),
    ("theta_count",
      info("theta_count", "theta_count(sk) - distinct-count estimate of a theta sketch"),
      (args: Seq[Expression]) =>
        graft.expressions.ThetaCount(args.head)),
    // lsh_buckets(v, nTables, nPlanes, dim, seed) - per-table random-
    // hyperplane bucket ids; the trailing args must be integer literals
    // (the plane matrix is generated at plan time from the seed)
    ("lsh_buckets",
      info("lsh_buckets",
        "lsh_buckets(v, nTables, nPlanes, dim, seed) - array<long> of LSH bucket ids"),
      (args: Seq[Expression]) => {
        val nTables = intArg(args(1), "nTables")
        val nPlanes = intArg(args(2), "nPlanes")
        val dim = intArg(args(3), "dim")
        val seed = intArg(args(4), "seed").toLong
        val planes = (0 until nTables)
          .map(t => graft.functions.Vectors.makePlanes(nPlanes, dim, seed + t)).toArray
        LshBuckets(args.head, planes)
      }),
    // The reference-pipeline extraction functions, so the WHOLE pipeline
    // can run as plain SQL: each builder lifts the Column-composition
    // function through the bridge (the expression tree is identical to
    // the DataFrame API's).
    ("classify_status",
      info("classify_status",
        "classify_status(s) - priority-ordered decision status or NULL"),
      (args: Seq[Expression]) => Bridge.resolvedExpression(
        graft.functions.Text.classifyStatus(Bridge.column(oneArg(args, "classify_status"))))),
    ("danish_date",
      info("danish_date",
        "danish_date(s) - parse '12. januar 2026'-style dates to DATE"),
      (args: Seq[Expression]) => Bridge.resolvedExpression(
        graft.functions.Text.parseDanishDate(Bridge.column(oneArg(args, "danish_date"))))),
    ("extract_date",
      info("extract_date",
        "extract_date(s) - first d.m.y / y.m.d styled substring, raw"),
      (args: Seq[Expression]) => Bridge.resolvedExpression(
        graft.functions.Text.extractDate(Bridge.column(oneArg(args, "extract_date"))))),
    ("extract_atc",
      info("extract_atc", "extract_atc(s) - first ATC code or NULL"),
      (args: Seq[Expression]) => Bridge.resolvedExpression(
        graft.functions.Text.extractAtc(Bridge.column(oneArg(args, "extract_atc"))))),
    ("text_fingerprint",
      info("text_fingerprint",
        "text_fingerprint(s) - md5 of the normalized (lowered, re-tokenized) text"),
      (args: Seq[Expression]) => Bridge.resolvedExpression(
        graft.functions.Text.fingerprint(Bridge.column(oneArg(args, "text_fingerprint"))))),
    ("simhash",
      info("simhash", "simhash(s) - 60-bit md5-vote simhash of a string"),
      (args: Seq[Expression]) =>
        graft.expressions.SimHash(oneArg(args, "simhash"))),
    ("bitmap_contains",
      info("bitmap_contains",
        "bitmap_contains(dv, pos) - membership of a bigint position in a " +
          "serialized Roaring64 bitmap (deletion-vector probe)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "bitmap_contains needs (binary, bigint)")
        graft.expressions.BitmapContains(args.head, args(1))
      }),
    // minhash_signature(shingles[, k]) - per-row k-long minhash signature
    ("minhash_signature",
      info("minhash_signature",
        "minhash_signature(arr[, k]) - k-long minhash signature of an array<string>"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2,
          "minhash_signature needs (array<string>[, k])")
        val k = if (args.length == 2) intArg(args(1), "k") else 128
        graft.expressions.MinHashSignature(args.head, k)
      }),
    // word_ngrams(s, n, distinct) - all word n-grams in one pass
    ("word_ngrams",
      info("word_ngrams",
        "word_ngrams(s, n, distinct) - array of word n-grams (single-space tokens)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "word_ngrams needs (string, n, distinct)")
        val distinct = args(2) match {
          case Literal(b: Boolean, _) => b
          case other => throw new IllegalArgumentException(
            s"word_ngrams: distinct must be a boolean literal, got $other")
        }
        graft.expressions.WordNgrams(args.head, intArg(args(1), "n"), distinct)
      }),
    // split_first(s, sep1[, sep2, ...]) - struct(head, tail) split at the
    // EARLIEST occurrence of any separator (longest wins on position ties)
    ("split_first",
      info("split_first",
        "split_first(s, sep, ...) - struct(head, tail) at the first separator hit"),
      (args: Seq[Expression]) => {
        require(args.length >= 2, "split_first needs a string and 1+ separators")
        graft.expressions.SplitFirst(args.head,
          args.tail.zipWithIndex.map { case (e, i) => stringArg(e, s"separator $i") })
      }))

  /** Table-valued functions lifting the OPERATOR tier (as-of join,
    * interval join, dedup) into pure SQL — the surface a SQL-only user
    * needs to reach the engine's best operators. Relations are passed as
    * temp-view NAMES (string literals): the builder resolves them against
    * the active session at analysis time, applies the Scala operator, and
    * returns its logical plan — so the SQL text and the Scala API produce
    * the IDENTICAL plan (value-gated by the *_sql_surface oracle entries).
    *
    *   SELECT * FROM graft_asof_join('facts', 'dim', 'k', 't', 'dim_t')
    *   SELECT * FROM graft_interval_join('pts', 'ivs', 'sec', 's', 'e', 600)
    *   SELECT * FROM graft_dedup_exact('docs', 'doc_id', 'text')
    */
  val tableFunctions: Seq[(String, ExpressionInfo, Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    ("graft_asof_join",
      info("graft_asof_join",
        "graft_asof_join(left_view, right_view, key_col, time_col, right_time_col) " +
          "- last right row at-or-before each left row's time, per key"),
      (args: Seq[Expression]) => {
        require(args.length == 5,
          "graft_asof_join(left_view, right_view, key_col, time_col, right_time_col)")
        val a = args.map(stringArg(_, "graft_asof_join argument"))
        val s = SparkSession.active
        Bridge.logicalPlan(graft.operators.AsOfJoin.asofLast(
          s.table(a(0)), s.table(a(1)), a(2), a(3), a(4)))
      }),
    ("graft_interval_join",
      info("graft_interval_join",
        "graft_interval_join(points_view, intervals_view, point_col, start_col, end_col, max_len) " +
          "- points matched to enclosing intervals (bounded length)"),
      (args: Seq[Expression]) => {
        require(args.length == 6,
          "graft_interval_join(points_view, intervals_view, point_col, start_col, end_col, max_len)")
        val a = args.take(5).map(stringArg(_, "graft_interval_join argument"))
        val maxLen = intArg(args(5), "graft_interval_join: max_len").toLong
        val s = SparkSession.active
        Bridge.logicalPlan(graft.operators.RangeJoin.intervalJoin(
          s.table(a(0)), s.table(a(1)), a(2), a(3), a(4), maxLen))
      }),
    ("graft_dedup_exact",
      info("graft_dedup_exact",
        "graft_dedup_exact(view, id_col, text_col) " +
          "- exact normalized-text dedup groups (fp, keep_id, n_dups)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_dedup_exact(view, id_col, text_col)")
        val a = args.map(stringArg(_, "graft_dedup_exact argument"))
        val s = SparkSession.active
        Bridge.logicalPlan(graft.operators.Dedup.exact(s.table(a(0)), a(1), a(2)))
      }),
    // Change data feed between two snapshots of a history table — the
    // Delta `table_changes` verb: row-level added/deleted/changed(+
    // old_/new_ values) derived from two VERSION AS OF reads through one
    // full-outer key join (EtlOps.diffSnapshots). Commit-granularity CDC
    // without any extra stored state — the manifests ARE the change log:
    //   SELECT * FROM graft_table_changes('graft_wh', 'db.t', 2, 4, 'id')
    ("graft_table_changes",
      info("graft_table_changes",
        "graft_table_changes(catalog, table, from_v, to_v, key_col, ...) - " +
          "row-level change feed (change_type + old_/new_ columns) between " +
          "two snapshots of a history table"),
      (args: Seq[Expression]) => {
        require(args.length >= 5,
          "graft_table_changes(catalog, 'ns.t', from_v, to_v, key_col[, ...])")
        val cat = stringArg(args.head, "graft_table_changes: catalog")
        val tbl = stringArg(args(1), "graft_table_changes: table")
        val fromV = intArg(args(2), "graft_table_changes: from_v")
        val toV = intArg(args(3), "graft_table_changes: to_v")
        val keys = args.drop(4).map(stringArg(_, "graft_table_changes: key col"))
        val s = SparkSession.active
        val before = s.sql(s"SELECT * FROM $cat.$tbl VERSION AS OF $fromV")
        val after = s.sql(s"SELECT * FROM $cat.$tbl VERSION AS OF $toV")
        val missing = keys.filterNot(before.columns.contains)
        require(missing.isEmpty,
          s"graft_table_changes: key column(s) ${missing.mkString(", ")} not in " +
            s"table schema ${before.columns.mkString(", ")}")
        val valueCols = before.columns.toSeq.filterNot(keys.contains)
        Bridge.logicalPlan(graft.operators.EtlOps.diffSnapshots(
          before, after, keys, valueCols))
      }),
    // Deletion-vector density for merge-on-read tables — the dial that
    // tells an operator when to run materializeDeletes:
    //   SELECT * FROM graft_dv_stats('graft_wh', 'db.t')
    ("graft_dv_stats",
      info("graft_dv_stats",
        "graft_dv_stats(catalog, table) - per data file of a merge-on-read " +
          "table: (file, file_rows, deleted_rows, live_rows)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dv_stats(catalog_name, 'namespace.table')")
        val s = SparkSession.active
        import s.implicits._
        Bridge.logicalPlan(GraftTable.dvStats(tableArg(args, "graft_dv_stats"))
          .toDF("file", "file_rows", "deleted_rows", "live_rows"))
      }),
    // DESCRIBE DETAIL for graft-catalog tables: the layout contract as
    // (key, value) rows — storage flavor, snapshotting, partition /
    // bucket / time-transform spec, CHECK constraints, live file count:
    //   SELECT * FROM graft_detail('graft_wh', 'db.t')
    ("graft_detail",
      info("graft_detail",
        "graft_detail(catalog, table) - table layout detail as (key, value) rows"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_detail(catalog_name, 'namespace.table')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_detail")
        val (fs, p) = fsDir(t)
        val rows: Seq[(String, String)] = Seq(
          "format" -> "graft/parquet",
          "history" -> t.history.toString,
          "merge_on_read" -> t.mor.toString,
          "partition_cols" -> t.partitionCols.mkString(","),
          "bucket" -> t.bucketSpec.map { case (c, n) => s"bucket($n, $c)" }.getOrElse(""),
          "time_partition" -> t.dayCol.map(c => s"${t.timeUnit}($c)").getOrElse(""),
          "checks" -> t.checks.map { case (n, x) => s"$n: $x" }.mkString("; "),
          "n_columns" -> t.schema().length.toString) ++ {
          if (t.history) {
            // live files = the CURRENT snapshot's manifest (past-version
            // files still on disk are not part of the table)
            val v = GraftTable.manifestVersions(fs, p).last
            Seq("n_data_files" ->
              GraftTable.readManifest(fs, p, v).size.toString,
              "current_version" -> v.toString)
          } else Seq("n_data_files" ->
            GraftTable.dataFiles(fs, p).size.toString)
        }
        import s.implicits._
        Bridge.logicalPlan(rows.toDF("key", "value"))
      }),
    // --- CALL-style maintenance procedures, as TVFs (the pattern every
    // real lakehouse ships: Iceberg CALL rewrite_data_files / Delta
    // OPTIMIZE / VACUUM / RESTORE). The verb RUNS when the statement is
    // analyzed and the returned row is its receipt — so a SQL-only
    // operator can run the whole maintenance playbook:
    //   SELECT * FROM graft_compact('graft_wh', 'db.t')
    //   SELECT * FROM graft_vacuum('graft_wh', 'db.t', 2)
    //   SELECT * FROM graft_restore('graft_wh', 'db.t', 3)
    //   SELECT * FROM graft_purge('graft_wh', 'db.t', 'id % 10 = 3')
    //   SELECT * FROM graft_mv_refresh('graft_wh', 'db.t_mv')
    ("graft_compact",
      info("graft_compact",
        "graft_compact(catalog, table[, target_mb]) - compact a graft " +
          "table's data files (layout-aware: flat/bucketed/time-partitioned); " +
          "returns (mode, files_before, files_after)"),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "graft_compact(catalog, 'ns.t'[, target_mb])")
        val s = SparkSession.active
        val t = tableArg(args, "graft_compact")
        val (mode, before, after) =
          if (t.bucketSpec.nonEmpty) {
            val (b, a) = graft.sources.GraftMaintenance.compactBucketedTable(s, t)
            ("bucketed", b, a)
          } else if (t.dayCol.nonEmpty) {
            val (b, a) = graft.sources.GraftMaintenance.compactDayTable(s, t)
            ("per-" + t.timeUnit.stripSuffix("s"), b, a)
          } else {
            val targetBytes =
              if (args.length == 3)
                intArg(args(2), "graft_compact: target_mb").toLong << 20
              else 128L << 20
            val (b, a) = graft.sources.GraftMaintenance.compactTable(
              s, t, targetBytes)
            ("bulk", b, a)
          }
        import s.implicits._
        Bridge.logicalPlan(Seq((mode, before, after))
          .toDF("mode", "files_before", "files_after"))
      }),
    ("graft_vacuum",
      info("graft_vacuum",
        "graft_vacuum(catalog, table, keep_last | older_than_ts) - expire " +
          "old snapshots of a history table, by count (integer: keep the " +
          "last N) or by time (timestamp string: expire snapshots " +
          "committed before it; the current snapshot always survives); " +
          "returns (manifests_removed, files_removed)"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "graft_vacuum(catalog, 'ns.t', keep_last | 'older-than timestamp')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_vacuum")
        val (m, f) = args(2) match {
          case Literal(ts, org.apache.spark.sql.types.StringType) if ts != null =>
            val millis = sessionTsMillis(ts.toString).getOrElse(
              throw new IllegalArgumentException(
                s"graft_vacuum: '$ts' is not a 'yyyy-mm-dd hh:mm:ss[.f]' " +
                  "timestamp"))
            graft.sources.GraftMaintenance.vacuumOlderThan(s, t, millis)
          case other =>
            graft.sources.GraftMaintenance.vacuum(s, t,
              intArg(other, "graft_vacuum: keep_last"))
        }
        import s.implicits._
        Bridge.logicalPlan(Seq((m, f))
          .toDF("manifests_removed", "files_removed"))
      }),
    ("graft_apply_retention",
      info("graft_apply_retention",
        "graft_apply_retention(catalog, table) - apply the table's " +
          "DECLARED retention policy (retention.keep-last floor and/or " +
          "retention.max-age-ms; a snapshot expires only when both " +
          "allow); refuses tables with no declaration; returns " +
          "(keep_last, max_age_ms, manifests_removed, files_removed)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_apply_retention(catalog, 'ns.t')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_apply_retention")
        val (kl, ma) = graft.sources.GraftRetention.of(t.retention)
        val (m, f) = graft.sources.GraftMaintenance.applyRetention(s, t)
        import s.implicits._
        Bridge.logicalPlan(Seq((kl.map(_.toLong).getOrElse(-1L),
            ma.getOrElse(-1L), m, f))
          .toDF("keep_last", "max_age_ms", "manifests_removed", "files_removed"))
      }),
    ("graft_bloom_build",
      info("graft_bloom_build",
        "graft_bloom_build(catalog, table, cols_csv) - build the per-file " +
          "BLOOM index for point-lookup pruning on non-clustered columns; " +
          "returns (files_indexed, columns)"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "graft_bloom_build(catalog, 'ns.t', 'col1,col2')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_bloom_build")
        val cols = stringArg(args(2), "graft_bloom_build: cols_csv")
          .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        val n = graft.sources.GraftBloom.buildIndex(s, t, cols)
        import s.implicits._
        Bridge.logicalPlan(Seq((n, cols.mkString(",")))
          .toDF("files_indexed", "columns"))
      }),
    ("graft_trgm_build",
      info("graft_trgm_build",
        "graft_trgm_build(catalog, table, cols_csv) - build the per-file " +
          "TRIGRAM index for substring (LIKE '%needle%') file skipping " +
          "on string columns; returns (files_indexed, columns)"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "graft_trgm_build(catalog, 'ns.t', 'col1,col2')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_trgm_build")
        val cols = stringArg(args(2), "graft_trgm_build: cols_csv")
          .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        val n = graft.sources.GraftBloom.buildTrigramIndex(s, t, cols)
        import s.implicits._
        Bridge.logicalPlan(Seq((n, cols.mkString(",")))
          .toDF("files_indexed", "columns"))
      }),
    ("graft_verify_snapshot",
      info("graft_verify_snapshot",
        "graft_verify_snapshot(catalog, table [, 'deep']) - audit the " +
          "current snapshot's metadata against the bytes on disk " +
          "(existence, recorded sizes, DV/eq sidecars; 'deep' adds a " +
          "distributed footer row-count check); returns findings " +
          "(file, problem, expected, actual) - empty means clean"),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "graft_verify_snapshot(catalog, 'ns.t'[, 'deep'])")
        val s = SparkSession.active
        val t = tableArg(args, "graft_verify_snapshot")
        val deep = args.length == 3 && {
          val m = stringArg(args(2), "graft_verify_snapshot: mode")
          require(m == "deep" || m == "meta",
            s"graft_verify_snapshot: mode must be 'deep' or 'meta', got '$m'")
          m == "deep"
        }
        val findings = graft.sources.GraftMaintenance
          .verifySnapshot(s, t, deep)
        import s.implicits._
        Bridge.logicalPlan(findings
          .toDF("file", "problem", "expected", "actual"))
      }),
    ("graft_analyze_ndv",
      info("graft_analyze_ndv",
        "graft_analyze_ndv(catalog, table) - backfill distinct-count " +
          "sketches for current files whose stats lack them (compaction " +
          "outputs, pre-NDV tables); returns files_enriched"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_analyze_ndv(catalog, 'ns.t')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_analyze_ndv")
        val n = graft.sources.GraftStats.analyzeNdv(s, t)
        import s.implicits._
        Bridge.logicalPlan(Seq(n).toDF("files_enriched"))
      }),
    ("graft_set_time_partition",
      info("graft_set_time_partition",
        "graft_set_time_partition(catalog, table, spec) - PARTITION " +
          "EVOLUTION: change the table's hidden time partitioning as a " +
          "metadata-only commit; spec is 'days(col)' / 'hours(col)' / " +
          "'months(col)' or 'none'. Old files keep their layout and stay " +
          "prunable; new writes route through the new spec"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "graft_set_time_partition(catalog, 'ns.t', 'days(col)'|'none')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_set_time_partition")
        val specStr = stringArg(args(2), "graft_set_time_partition: spec").trim
        val spec =
          if (specStr.equalsIgnoreCase("none")) None
          else {
            val m = "^(hours|days|months)\\(([^)]+)\\)$".r
            specStr match {
              case m(unit, c) => Some((c.trim, unit))
              case _ => throw new IllegalArgumentException(
                s"graft_set_time_partition: spec '$specStr' is not " +
                  "unit(col) with unit in hours/days/months, or 'none'")
            }
          }
        graft.sources.GraftMaintenance.setTimePartition(s, t, spec)
        import s.implicits._
        Bridge.logicalPlan(Seq((specStr,
          spec.map(x => s"${x._2}(${x._1})").getOrElse("none")))
          .toDF("requested", "installed"))
      }),
    ("graft_migrate_layout",
      info("graft_migrate_layout",
        "graft_migrate_layout(catalog, table) - rewrite files not laid " +
          "out under the CURRENT time-partition spec into it (the " +
          "catch-up job after graft_set_time_partition); returns " +
          "(files_migrated, files_landed)"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "graft_migrate_layout(catalog, 'ns.t')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_migrate_layout")
        val (m, l) = graft.sources.GraftMaintenance.migrateTimeLayout(s, t)
        import s.implicits._
        Bridge.logicalPlan(Seq((m, l)).toDF("files_migrated", "files_landed"))
      }),
    ("graft_restore",
      info("graft_restore",
        "graft_restore(catalog, table, version_or_tag) - roll a history " +
          "table back to a snapshot or named ref (O(manifest), zero data " +
          "rewritten); returns (restored_to, new_version)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_restore(catalog, 'ns.t', version)")
        val s = SparkSession.active
        val t = tableArg(args, "graft_restore")
        val target = versionOrTagArg(args(2), t, "graft_restore")
        val v = graft.sources.GraftMaintenance.restore(s, t, target)
        import s.implicits._
        Bridge.logicalPlan(Seq((target, v)).toDF("restored_to", "new_version"))
      }),
    ("graft_purge",
      info("graft_purge",
        "graft_purge(catalog, table, condition) - right-to-erasure: DELETE " +
          "+ DV fold + snapshot expiry, then PROVE erasure by re-reading " +
          "raw bytes; returns (rows_erased, purged_completely)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_purge(catalog, 'ns.t', condition)")
        val s = SparkSession.active
        val cat = stringArg(args.head, "graft_purge: catalog")
        val t = tableArg(args, "graft_purge")
        val cond = stringArg(args(2), "graft_purge: condition")
        val n = graft.sources.GraftMaintenance.purge(s, cat, t, cond)
        val clean = graft.sources.GraftMaintenance.purgedCompletely(s, t, cond)
        import s.implicits._
        Bridge.logicalPlan(Seq((n, clean)).toDF("rows_erased", "purged_completely"))
      }),
    ("graft_mv_refresh",
      info("graft_mv_refresh",
        "graft_mv_refresh(catalog, mv_table) - catch a materialized view " +
          "up to its base (incremental when the base only appended); " +
          "returns (mode)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_mv_refresh(catalog, 'ns.mv')")
        val s = SparkSession.active
        val mode = graft.plans.MatView.refresh(s,
          stringArg(args.head, "graft_mv_refresh: catalog"),
          stringArg(args(1), "graft_mv_refresh: mv_table"))
        import s.implicits._
        Bridge.logicalPlan(Seq(mode).toDF("mode"))
      }),
    ("graft_analyze",
      info("graft_analyze",
        "graft_analyze(catalog, table) - backfill manifest-lifted file " +
          "statistics (size/rows/min/max/nulls) for current data files " +
          "missing them, ONE distributed footer-read job; returns " +
          "(files_analyzed)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_analyze(catalog, 'ns.t')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_analyze")
        val n = graft.sources.GraftMaintenance.analyzeTable(s, t)
        import s.implicits._
        Bridge.logicalPlan(Seq(n).toDF("files_analyzed"))
      }),
    ("graft_clone",
      info("graft_clone",
        "graft_clone(catalog, source, dest[, 'shallow'|'deep']) - clone " +
          "the source's current snapshot as a new table: shallow " +
          "(default) references source files with zero copy (VACUUM on " +
          "the source can orphan it — the documented trade), deep copies " +
          "bytes in one distributed job; returns (files, bytes_copied)"),
      (args: Seq[Expression]) => {
        require(args.length == 3 || args.length == 4,
          "graft_clone(catalog, 'ns.src', 'ns.dst'[, mode])")
        val s = SparkSession.active
        val src = tableArg(args, "graft_clone", what = "source")
        val dst = GraftCatalog.ident(stringArg(args(2), "graft_clone: dest"))
        val mode =
          if (args.length == 4) stringArg(args(3), "graft_clone: mode")
          else "shallow"
        require(mode == "shallow" || mode == "deep",
          s"graft_clone: mode must be 'shallow' or 'deep', got $mode")
        require(dst.namespace().nonEmpty,
          "graft_clone: dest must be namespace-qualified ('ns.t')")
        // the destination lands in the catalog's warehouse, as CREATE's
        // does — never beside a source registered at an external location
        val dstDir = (dst.namespace() :+ dst.name())
          .foldLeft(catalogArg(args, "graft_clone").warehouseDir)(new Path(_, _))
        val (n, b) = graft.sources.GraftClone.clone(
          s, src, dstDir.toString, mode == "shallow")
        import s.implicits._
        Bridge.logicalPlan(Seq((n, b)).toDF("files", "bytes_copied"))
      }),
    ("graft_register",
      info("graft_register",
        "graft_register(catalog, table, location) - adopt an EXISTING " +
          "graft table directory under the catalog as `table`: metadata-" +
          "only (a one-line pointer stub in the warehouse; zero bytes " +
          "copied — the 100 TB adopt verb). Reads/DML/maintenance/time " +
          "travel follow the pointer; DROP TABLE unregisters (external " +
          "bytes survive, re-registerable); returns (table, location)"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "graft_register(catalog, 'ns.t', location)")
        val s = SparkSession.active
        val tname = stringArg(args(1), "graft_register: table")
        val loc = stringArg(args(2), "graft_register: location")
        val ident = GraftCatalog.ident(tname)
        require(ident.namespace().nonEmpty,
          "graft_register: table must be namespace-qualified ('ns.t')")
        catalogArg(args, "graft_register").registerTable(ident, loc)
        import s.implicits._
        Bridge.logicalPlan(Seq((tname, loc)).toDF("table", "location"))
      }),
    ("graft_optimize",
      info("graft_optimize",
        "graft_optimize(catalog, table[, min_files]) - census-driven " +
          "SELECTIVE compaction for identity-partitioned tables: only " +
          "partitions holding >= min_files files (default 2) are " +
          "rewritten, each to ONE file, in ONE distributed job — " +
          "O(debris), not O(table). Declared sort order preserved, MOR " +
          "masks folded first, stats footer-lifted. Returns (partition, " +
          "files_before, files_after) per compacted partition"),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "graft_optimize(catalog, 'ns.t'[, min_files])")
        val s = SparkSession.active
        val t = tableArg(args, "graft_optimize")
        val minFiles = args.drop(2).headOption
          .map(intArg(_, "graft_optimize: min_files")).getOrElse(2)
        val census = graft.sources.GraftMaintenance
          .optimizeTable(s, t, minFiles)
        s.catalog.clearCache()
        import s.implicits._
        Bridge.logicalPlan(census
          .toDF("partition", "files_before", "files_after"))
      }),
    ("graft_export",
      info("graft_export",
        "graft_export(catalog, table, dest[, version_or_tag]) - write the " +
          "Hive symlink-manifest layout for one pinned snapshot: per-" +
          "partition manifest files of absolute parquet paths + " +
          "schema.json, KB-scale metadata, zero data copied — any " +
          "external engine reads the snapshot with no graft code. " +
          "Refuses row-masked (DV/equality) snapshots and stale " +
          "existence-defaults (external readers would serve wrong rows). " +
          "Returns (files, partition_dirs, version)"),
      (args: Seq[Expression]) => {
        require(args.length == 3 || args.length == 4,
          "graft_export(catalog, 'ns.t', dest[, version_or_tag])")
        val s = SparkSession.active
        val t = tableArg(args, "graft_export")
        val dest = stringArg(args(2), "graft_export: dest")
        val ver = args.drop(3).headOption.map(versionOrTagArg(_, t, "graft_export"))
        val (files, parts, v) =
          graft.sources.GraftExport.exportSnapshot(s, t, dest, ver)
        import s.implicits._
        Bridge.logicalPlan(Seq((files, parts, v))
          .toDF("files", "partition_dirs", "version"))
      }),
    ("graft_fsck",
      info("graft_fsck",
        "graft_fsck(catalog, table) - integrity audit: every retained " +
          "manifest entry resolves to real bytes (main + branches), " +
          "segment refs open, orphan debris is counted, head stats " +
          "coverage and tag targets are checked. ONE driver listing, " +
          "zero data IO. Returns (check, status, n) rows"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_fsck(catalog, 'ns.t')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_fsck")
        val rows = graft.sources.GraftFsck.audit(s, t)
          .map(f => (f.check, f.status, f.n))
        import s.implicits._
        Bridge.logicalPlan(rows.toDF("check", "status", "n"))
      }),
    ("graft_replicate",
      info("graft_replicate",
        "graft_replicate(catalog, table, dest_location) - incrementally " +
          "mirror the table's COMMIT HISTORY (manifests, branches, tags, " +
          "sidecars, stats) to dest_location: the DR / multi-region sync " +
          "verb. Re-running copies only new commits' bytes (O(delta)); " +
          "crash-safe oldest-first ordering keeps the mirror a readable " +
          "prefix of the source's history at every instant; adopt the " +
          "mirror anywhere via graft_register. Returns (versions_synced, " +
          "files_copied, bytes_copied, head_version)"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "graft_replicate(catalog, 'ns.t', dest_location)")
        val s = SparkSession.active
        val t = tableArg(args, "graft_replicate")
        val dest = stringArg(args(2), "graft_replicate: dest_location")
        val r = graft.sources.GraftReplicate.replicate(s, t, dest)
        import s.implicits._
        Bridge.logicalPlan(Seq(
          (r.versionsSynced, r.filesCopied, r.bytesCopied, r.headVersion))
          .toDF("versions_synced", "files_copied", "bytes_copied",
            "head_version"))
      }),
    ("graft_replicate_group",
      info("graft_replicate_group",
        "graft_replicate_group(catalog, dest_root[, group_id]) - " +
          "replicate EVERY table of a consistency group (latest or the " +
          "given id) under dest_root laid out as a WAREHOUSE, group " +
          "coordinates installed last: point a catalog's warehouse at " +
          "dest_root and failover lands on the exact cross-table state " +
          "the pipeline last published. Re-runs are per-table O(delta). " +
          "Returns (group_id, table, versions_synced, files_copied, " +
          "bytes_copied) per table"),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "graft_replicate_group(catalog, dest_root[, group_id])")
        val s = SparkSession.active
        val cat = stringArg(args.head, "graft_replicate_group: catalog")
        val dest = stringArg(args(1), "graft_replicate_group: dest_root")
        val chosen = resolveGroup(s, cat, args.drop(2).headOption,
          "graft_replicate_group")
        val tables = chosen._3.map { case (t, v) =>
          (t, GraftTable.load(s, cat, t), v)
        }
        val reports = graft.sources.GraftReplicate.replicateGroup(
          s, dest, chosen._1, chosen._2, tables)
        import s.implicits._
        Bridge.logicalPlan(reports.map { case (t, r) =>
          (chosen._1, t, r.versionsSynced, r.filesCopied, r.bytesCopied)
        }.toDF("group_id", "table", "versions_synced", "files_copied",
          "bytes_copied"))
      }),
    ("graft_export_group",
      info("graft_export_group",
        "graft_export_group(catalog, dest_root[, group_id]) - symlink-" +
          "manifest export of EVERY table of a publish group at its " +
          "group version, marker file installed last: external engines " +
          "get a cross-table-CONSISTENT read set with zero graft code. " +
          "Returns (group_id, table, files, partition_dirs) per table"),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "graft_export_group(catalog, dest_root[, group_id])")
        val s = SparkSession.active
        val cat = stringArg(args.head, "graft_export_group: catalog")
        val dest = stringArg(args(1), "graft_export_group: dest_root")
        val chosen = resolveGroup(s, cat, args.drop(2).headOption,
          "graft_export_group")
        val tables = chosen._3.map { case (t, v) =>
          (t, GraftTable.load(s, cat, t), v)
        }
        val reports = graft.sources.GraftExport.exportGroup(
          s, dest, chosen._1, chosen._2, tables)
        import s.implicits._
        Bridge.logicalPlan(reports.map { case (t, f, p) =>
          (chosen._1, t, f, p)
        }.toDF("group_id", "table", "files", "partition_dirs"))
      }),
    ("graft_rollback_group",
      info("graft_rollback_group",
        "graft_rollback_group(catalog[, group_id]) - undo to the last " +
          "released state: restore EVERY table of a publish group to " +
          "its group version, derived-first (reverse publish order), " +
          "each an ordinary kind=restore commit — history intact, " +
          "already-current tables skipped. Returns (table, restored_to, " +
          "new_version) per table"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2,
          "graft_rollback_group(catalog[, group_id])")
        val s = SparkSession.active
        val cat = stringArg(args.head, "graft_rollback_group: catalog")
        val chosen = resolveGroup(s, cat, args.drop(1).headOption,
          "graft_rollback_group")
        val tables = chosen._3.map { case (t, v) =>
          (t, GraftTable.load(s, cat, t), v)
        }
        val done = graft.sources.GraftBranch.rollbackGroup(s, tables)
        s.catalog.clearCache()
        import s.implicits._
        Bridge.logicalPlan(done.toDF("table", "restored_to", "new_version"))
      }),
    ("graft_sync_identity",
      info("graft_sync_identity",
        "graft_sync_identity(catalog, table) - advance the identity " +
          "watermark to the furthest value present (the catch-up after " +
          "GENERATED BY DEFAULT explicit inserts outran it); metadata-" +
          "only via the stats log; returns (old_watermark, new_watermark)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_sync_identity(catalog, 'ns.t')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_sync_identity")
        val (o, n) = graft.sources.GraftIdentity.sync(s, t)
        import s.implicits._
        Bridge.logicalPlan(Seq((o, n)).toDF("old_watermark", "new_watermark"))
      }),
    // --- VIEWS: stored, named SQL definitions in the catalog. These TVFs
    // are the any-session surface; sessions built with
    // spark.sql.extensions=graft.GraftExtensions additionally resolve
    // `SELECT ... FROM cat.db.v` natively (GraftViewSubstitution).
    ("graft_create_view",
      info("graft_create_view",
        "graft_create_view(catalog, view, sql) - store a named view " +
          "definition (validated by resolving the body now); read it via " +
          "graft_view(catalog, view) or natively with the extension; " +
          "returns (view, columns)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_create_view(catalog, 'ns.v', sql)")
        val s = SparkSession.active
        val cat = stringArg(args.head, "graft_create_view: catalog")
        val plugin = GraftCatalog.named(s, cat)
        val vname = stringArg(args(1), "graft_create_view: view")
        val body = stringArg(args(2), "graft_create_view: sql")
        val ident = GraftCatalog.ident(vname)
        require(ident.namespace().nonEmpty,
          "graft_create_view: view must be namespace-qualified ('db.v')")
        // resolving the body NOW validates it and pins the schema users
        // will see in graft_views; resolution runs in the view's OWN
        // catalog.namespace — the exact context every read will pin —
        // so an unqualified `FROM t` means the same t at create and read
        val resolved = Bridge.ofRows(s,
          org.apache.spark.sql.graftbridge.GraftViewResolution
            .analyzeInContext(s, cat, ident.namespace(), body))
        plugin.createView(new org.apache.spark.sql.connector.catalog.ViewInfo(
          ident, body, cat, ident.namespace(), resolved.schema,
          resolved.schema.fieldNames, Array.empty[String],
          Array.empty[String], new java.util.HashMap[String, String]()))
        import s.implicits._
        Bridge.logicalPlan(Seq((vname,
          resolved.schema.fieldNames.mkString(","))).toDF("view", "columns"))
      }),
    ("graft_view",
      info("graft_view",
        "graft_view(catalog, view) - read a stored view: the body " +
          "re-resolves against the CURRENT base-table state; composes " +
          "like any table expression (joins, CTEs)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_view(catalog, 'ns.v')")
        val s = SparkSession.active
        val v = catalogArg(args, "graft_view").loadView(
          GraftCatalog.ident(stringArg(args(1), "graft_view: view")))
        // resolve against the view's RECORDED catalog/namespace, not this
        // session's current context — same path as the native read
        org.apache.spark.sql.graftbridge.GraftViewResolution
          .resolvedBody(s, v)
      }),
    ("graft_views",
      info("graft_views",
        "graft_views(catalog, namespace) - stored views of a namespace: " +
          "(name, columns, sql)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_views(catalog, namespace)")
        val s = SparkSession.active
        val plugin = catalogArg(args, "graft_views")
        val ns = stringArg(args(1), "graft_views: namespace")
        val rows = plugin.listViews(ns.split("\\."): _*).toSeq.map { id =>
          val v = plugin.loadView(id)
          (id.name(), v.schema().fieldNames.mkString(","), v.query())
        }
        import s.implicits._
        Bridge.logicalPlan(rows.toDF("name", "columns", "sql"))
      }),
    ("graft_drop_view",
      info("graft_drop_view",
        "graft_drop_view(catalog, view) - drop a stored view; returns " +
          "whether it existed"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_drop_view(catalog, 'ns.v')")
        val s = SparkSession.active
        val dropped = catalogArg(args, "graft_drop_view").dropView(
          GraftCatalog.ident(stringArg(args(1), "graft_drop_view: view")))
        import s.implicits._
        Bridge.logicalPlan(Seq(dropped).toDF("dropped"))
      }),
    // --- BRANCHES: isolated write heads. Fork at main's head, commit
    // through `db.t.branch_<name>` (INSERT/MERGE/UPDATE/DELETE), publish
    // with a fast-forward or walk away with a drop — the multi-commit
    // write-audit-publish surface.
    ("graft_branch",
      info("graft_branch",
        "graft_branch(catalog, table, name) - fork branch <name> at the " +
          "table's current snapshot; write via db.t.branch_<name>; " +
          "returns (name, base_version)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_branch(catalog, 'ns.t', name)")
        val s = SparkSession.active
        val t = tableArg(args, "graft_branch")
        val name = stringArg(args(2), "graft_branch: name")
        val (fs, p) = fsDir(t)
        require(t.history, s"graft_branch: ${t.name()} is not a history " +
          "table — branches need the commit log")
        val base = graft.sources.GraftBranch.create(fs, p, name)
        import s.implicits._
        Bridge.logicalPlan(Seq((name, base)).toDF("name", "base_version"))
      }),
    ("graft_branches",
      info("graft_branches",
        "graft_branches(catalog, table) - live branches of a history " +
          "table: (name, base_version, head_version, commits)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_branches(catalog, 'ns.t')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_branches")
        val (fs, p) = fsDir(t)
        val rows = graft.sources.GraftBranch.readAll(fs, p).toSeq.sorted
          .map { case (n, base) =>
            val (head, _) = graft.sources.GraftBranch.head(fs, p, n)
            (n, base, head, (head - base))
          }
        import s.implicits._
        Bridge.logicalPlan(
          rows.toDF("name", "base_version", "head_version", "commits"))
      }),
    ("graft_fastforward",
      info("graft_fastforward",
        "graft_fastforward(catalog, table, name) - publish branch <name>: " +
          "main adopts its commits (refused if main diverged); returns " +
          "(from_version, to_version)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_fastforward(catalog, 'ns.t', name)")
        val s = SparkSession.active
        val t = tableArg(args, "graft_fastforward")
        val name = stringArg(args(2), "graft_fastforward: name")
        val (fs, p) = fsDir(t)
        val (from, to) = graft.sources.GraftBranch.fastForward(fs, p, name)
        s.catalog.clearCache()
        import s.implicits._
        Bridge.logicalPlan(Seq((from, to)).toDF("from_version", "to_version"))
      }),
    ("graft_publish_together",
      info("graft_publish_together",
        "graft_publish_together(catalog, 'ns.t1,ns.t2,...', name) - " +
          "fast-forward branch <name> across N tables as one two-phase " +
          "publish: EVERY table is validated (branch exists, main not " +
          "diverged) before ANY publishes — one bad table vetoes the " +
          "whole thing with zero published. List tables UPSTREAM-FIRST: " +
          "the only observable intermediate states are list prefixes, so " +
          "a reader never sees a derived table's new snapshot next to " +
          "its source's old one; returns (table, from_version, " +
          "to_version) per table"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "graft_publish_together(catalog, 'ns.t1,ns.t2,...', name)")
        val s = SparkSession.active
        val cat = stringArg(args.head, "graft_publish_together: catalog")
        val g = GraftCatalog.named(s, cat)
        val tbls = stringArg(args(1), "graft_publish_together: tables")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val name = stringArg(args(2), "graft_publish_together: name")
        require(tbls.nonEmpty, "graft_publish_together: empty table list")
        val done = graft.sources.GraftBranch.publishTogether(s,
          tbls.map(t => t -> GraftTable.load(s, cat, t)), name)
        // record the consistent coordinates this publish produced (see
        // GraftBranch.recordGroup — written after the last fast-forward,
        // so a crash loses only the record, never the publish); the
        // warehouse may live on a different filesystem than the first
        // (possibly registered-external) table
        val whFs = g.warehouseDir.getFileSystem(s.sessionState.newHadoopConf())
        graft.sources.GraftBranch.recordGroup(whFs, g.warehouseDir, name,
          done.map { case (t, _, to) => (t, to) })
        s.catalog.clearCache()
        import s.implicits._
        Bridge.logicalPlan(done.toDF("table", "from_version", "to_version"))
      }),
    ("graft_group",
      info("graft_group",
        "graft_group(catalog[, group_id]) - the consistent read " +
          "coordinates a graft_publish_together recorded: (group_id, " +
          "branch, table, version) rows for the LATEST group (or the " +
          "given id). Pin each table with VERSION AS OF its version for " +
          "a cross-table-consistent read that stays correct while heads " +
          "move on"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2,
          "graft_group(catalog[, group_id])")
        val s = SparkSession.active
        val cat = stringArg(args.head, "graft_group: catalog")
        val chosen = resolveGroup(s, cat, args.drop(1).headOption,
          "graft_group")
        import s.implicits._
        Bridge.logicalPlan(chosen._3
          .map { case (t, v) => (chosen._1, chosen._2, t, v) }
          .toDF("group_id", "branch", "table", "version"))
      }),
    ("graft_cherrypick",
      info("graft_cherrypick",
        "graft_cherrypick(catalog, table, name) - publish an APPEND-only " +
          "branch onto a main that moved past the fork (additive commits " +
          "commute); row-level/identity branch commits refuse; returns " +
          "(files_published, version)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_cherrypick(catalog, 'ns.t', name)")
        val s = SparkSession.active
        val t = tableArg(args, "graft_cherrypick")
        val name = stringArg(args(2), "graft_cherrypick: name")
        val (fs, p) = fsDir(t)
        val (n, v) = graft.sources.GraftBranch.cherryPick(fs, p, name)
        import s.implicits._
        Bridge.logicalPlan(Seq((n, v)).toDF("files_published", "version"))
      }),
    ("graft_drop_branch",
      info("graft_drop_branch",
        "graft_drop_branch(catalog, table, name) - abandon branch <name>: " +
          "its manifests go, and data files only it referenced are " +
          "reclaimed; returns (manifests_dropped, files_reclaimed)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_drop_branch(catalog, 'ns.t', name)")
        val s = SparkSession.active
        val t = tableArg(args, "graft_drop_branch")
        val name = stringArg(args(2), "graft_drop_branch: name")
        val (fs, p) = fsDir(t)
        val (m, f) = graft.sources.GraftBranch.drop(fs, p, name)
        import s.implicits._
        Bridge.logicalPlan(
          Seq((m, f)).toDF("manifests_dropped", "files_reclaimed"))
      }),
    // --- named snapshot refs (tags): retention by MEANING. A tag makes a
    // snapshot addressable ("VERSION AS OF 'golden'") and vacuum-proof
    // until dropped.
    ("graft_tag",
      info("graft_tag",
        "graft_tag(catalog, table, name[, version]) - tag a snapshot of a " +
          "history table (default: current); tagged snapshots survive " +
          "vacuum and resolve in VERSION AS OF; returns (name, version)"),
      (args: Seq[Expression]) => {
        require(args.length == 3 || args.length == 4,
          "graft_tag(catalog, 'ns.t', name[, version])")
        val s = SparkSession.active
        val t = tableArg(args, "graft_tag")
        val name = stringArg(args(2), "graft_tag: name")
        val (fs, p) = fsDir(t)
        val v =
          if (args.length == 4) intArg(args(3), "graft_tag: version").toLong
          else GraftTable.manifestVersions(fs, p).lastOption
            .getOrElse(throw new IllegalArgumentException(
              s"graft_tag: ${t.name()} has no snapshots"))
        graft.sources.GraftRefs.set(fs, p, name, v)
        import s.implicits._
        Bridge.logicalPlan(Seq((name, v)).toDF("name", "version"))
      }),
    ("graft_drop_tag",
      info("graft_drop_tag",
        "graft_drop_tag(catalog, table, name) - drop a snapshot tag (its " +
          "snapshot becomes vacuumable again); returns (name, existed)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_drop_tag(catalog, 'ns.t', name)")
        val s = SparkSession.active
        val t = tableArg(args, "graft_drop_tag")
        val name = stringArg(args(2), "graft_drop_tag: name")
        val (fs, p) = fsDir(t)
        val existed = graft.sources.GraftRefs.drop(fs, p, name)
        import s.implicits._
        Bridge.logicalPlan(Seq((name, existed)).toDF("name", "existed"))
      }),
    ("graft_refs",
      info("graft_refs",
        "graft_refs(catalog, table) - list snapshot tags of a history " +
          "table; returns (name, version) rows"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_refs(catalog, 'ns.t')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_refs")
        val (fs, p) = fsDir(t)
        val rows = graft.sources.GraftRefs.readAll(fs, p).toSeq.sorted
        import s.implicits._
        Bridge.logicalPlan(rows.toDF("name", "version"))
      }),
    ("graft_skip_stats",
      info("graft_skip_stats",
        "graft_skip_stats(catalog, table) - file-skipping effectiveness " +
          "per column from the stats log: (column, files_with_bounds, " +
          "overlap_fraction). 0.0 = disjoint ranges (point predicates " +
          "plan ~one file), 1.0 = every file overlaps every other " +
          "(min/max pruning useless - cluster or Z-order by it). " +
          "Metadata-only; zero data IO"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_skip_stats(catalog, 'ns.t')")
        val s = SparkSession.active
        import s.implicits._
        Bridge.logicalPlan(skipOverlap(tableArg(args, "graft_skip_stats"))
          .toDF("column", "files_with_bounds", "overlap_fraction"))
      }),
    // measure-don't-guess, closed into a RECOMMENDATION: the skip-overlap
    // measurement joined with what the table already DECLARES (layout
    // columns, write.sort.cols, index.bloom/trgm.cols), so the operator of
    // a 10⁴-table lakehouse reads one row per column and knows whether to
    // declare clustering, an index, or nothing. Metadata-only.
    ("graft_layout_advice",
      info("graft_layout_advice",
        "graft_layout_advice(catalog, table) - per-column layout health: " +
          "(column, files_with_bounds, overlap_fraction, declared, " +
          "advice). Joins skip-overlap measurement with the table's " +
          "declarations (layout/sort/index) into a recommendation. " +
          "Metadata-only; zero data IO"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_layout_advice(catalog, 'ns.t')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_layout_advice")
        val props = t.props
        val (bloomCols, trgmCols) = (
          props.get(graft.sources.GraftBloom.BloomColsProp).toSeq
            .flatMap(_.split(",")).map(_.trim).toSet,
          props.get(graft.sources.GraftBloom.TrgmColsProp).toSeq
            .flatMap(_.split(",")).map(_.trim).toSet)
        val overlap = skipOverlap(t).map { case (c, n, f) => c -> (n, f) }.toMap
        val layoutOf: String => Option[String] = c =>
          if (t.partitionCols.contains(c)) Some("partition")
          else if (t.bucketSpec.exists(_._1 == c)) Some("bucket")
          else if (t.dayCol.contains(c)) Some("time")
          else None
        val rows = t.schema().fields.toSeq.map { f =>
          val c = f.name
          val decl = (layoutOf(c).toSeq ++
            (if (t.sortCols.contains(c)) Seq("sort") else Nil) ++
            (if (bloomCols.contains(c)) Seq("bloom") else Nil) ++
            (if (trgmCols.contains(c)) Seq("trgm") else Nil)).mkString(",")
          val (nb, ov) = overlap.getOrElse(c, (0, Double.NaN))
          val advice = layoutOf(c) match {
            case Some(l) => s"$l layout column - prunes by placement already"
            case None if ov.isNaN =>
              "no comparable bounds - min/max skipping not applicable"
            case None if ov <= 0.2 =>
              if (t.sortCols.contains(c))
                "clustered and declared - skipping holds behind every write"
              else
                "clustered today - declare write.sort.cols to keep it " +
                  "behind writes and compaction"
            case None =>
              val range =
                if (t.sortCols.contains(c))
                  "declared sort not yet materialized - compact to cluster"
                else "range scans: declare write.sort.cols"
              val point =
                if (bloomCols.contains(c)) "point lookups covered (bloom)"
                else "point lookups: declare index.bloom.cols"
              val sub =
                if (f.dataType == org.apache.spark.sql.types.StringType)
                  (if (trgmCols.contains(c)) "; substring covered (trgm)"
                   else "; substring: declare index.trgm.cols")
                else ""
              s"scattered - $range; $point$sub"
          }
          (c, nb, ov, decl, advice)
        }
        import s.implicits._
        Bridge.logicalPlan(rows.toDF(
          "column", "files_with_bounds", "overlap_fraction", "declared", "advice"))
      }),
    // --- `.files` metadata surface: the current snapshot's data files
    // with their manifest-lifted statistics — size and row counts come
    // from the stats log, NOT from per-file IO, so this is the
    // prove-the-metadata query (Iceberg's `db.t.files`).
    ("graft_files",
      info("graft_files",
        "graft_files(catalog, table) - the current snapshot's data files: " +
          "(file, size_bytes, row_count, dv). size/rows come from the " +
          "manifest-lifted stats log (row_count NULL for unrecorded files)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_files(catalog, 'ns.t')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_files")
        val (fs, p) = fsDir(t)
        val entries: Seq[(String, Option[String])] =
          if (t.history) {
            val v = GraftTable.manifestVersions(fs, p).last
            GraftTable.readEntries(fs, p, v)
          } else GraftTable.dataFiles(fs, p).map { f =>
            val dvPath = new Path(p,
              graft.sources.GraftDv.dvName(new Path(f).getName))
            f -> (if (fs.exists(dvPath)) Some(dvPath.toString) else None)
          }
        val stats = graft.sources.GraftFileLog.stats(fs, p)
        val rows: Seq[(String, Long, Option[Long], Option[String])] =
          entries.map { case (f, dv) =>
            val name = new Path(f).getName
            val st = stats.get(name)
            (name,
              st.map(_.size).getOrElse(fs.getFileStatus(
                new Path(f)).getLen),
              st.map(_.rows),
              dv.map(d => new Path(d).getName))
          }
        import s.implicits._
        Bridge.logicalPlan(rows.toDF("file", "size_bytes", "row_count", "dv"))
      }),
    ("graft_partitions",
      info("graft_partitions",
        "graft_partitions(catalog, table) - per-partition rollup of the " +
          "current snapshot from the manifest + stats log (zero data IO): " +
          "(partition, files, rows, size_bytes, dv_masked). Partition = " +
          "the dir segments for identity/time layouts, the bucket id for " +
          "bucketed ones, '' for flat tables; rows excludes DV-deleted " +
          "positions; the skew/small-file census OPTIMIZE decisions read"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_partitions(catalog, 'ns.t')")
        val s = SparkSession.active
        val t = tableArg(args, "graft_partitions")
        val (fs, p) = fsDir(t)
        val entries = t.history match {
          case true =>
            val v = GraftTable.manifestVersions(fs, p).last
            GraftTable.readFullEntries(fs, p, v)
          case false => GraftTable.dataFiles(fs, p)
            .map(GraftTable.GraftEntry(_, None))
        }
        val stats = graft.sources.GraftFileLog.stats(fs, p)
        def partOf(f: String): String = {
          val rel = GraftTable.relativize(
            p, new Path(f))
          val dirs = rel.split("/").init.mkString("/")
          if (dirs.nonEmpty) dirs
          else if (t.bucketSpec.nonEmpty)
            graft.sources.GraftBucket.fileBucketId(
              new Path(f).getName)
              .map(b => s"bucket=$b").getOrElse("")
          else ""
        }
        val rows = entries.groupBy(e => partOf(e.file)).toSeq.map {
          case (part, es) =>
            val masked = es.flatMap(_.dv).map { d =>
              graft.sources.GraftDv.read(fs,
                new Path(d)).getLongCardinality
            }.sum
            val sts = es.flatMap(e => stats.get(
              new Path(e.file).getName))
            val raw: Option[Long] =
              if (sts.size == es.size) Some(sts.map(_.rows).sum) else None
            (part, es.size.toLong, raw.map(_ - masked),
              sts.map(_.size).sum, masked)
        }.sortBy(_._1)
        import s.implicits._
        Bridge.logicalPlan(rows.toDF(
          "partition", "files", "rows", "size_bytes", "dv_masked"))
      }),
    ("graft_remove_orphans",
      info("graft_remove_orphans",
        "graft_remove_orphans(catalog, table[, grace_minutes]) - delete " +
          "files no manifest references (crashed-commit debris), older " +
          "than the grace window (default 3 days); returns (files_removed)"),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "graft_remove_orphans(catalog, 'ns.t'[, grace_minutes])")
        val s = SparkSession.active
        val t = tableArg(args, "graft_remove_orphans")
        val grace =
          if (args.length == 3)
            intArg(args(2), "graft_remove_orphans: grace_minutes").toLong * 60000L
          else 3L * 24 * 3600 * 1000
        val n = graft.sources.GraftMaintenance.removeOrphans(s, t, grace)
        import s.implicits._
        Bridge.logicalPlan(Seq(n).toDF("files_removed"))
      }),
    ("graft_ann_build",
      info("graft_ann_build",
        "graft_ann_build(catalog, corpus_table, graph_table, id_col, " +
          "vec_col, block_col, k, iters) - build the NN-descent k-NN " +
          "graph of a corpus table and PERSIST it as a catalog history " +
          "table of directed edges (a_id, b_id, cosine, rank) — build " +
          "once, probe many; returns (nodes, edges)"),
      (args: Seq[Expression]) => {
        require(args.length == 8,
          "graft_ann_build(catalog, 'ns.corpus', 'ns.graph', id_col, " +
            "vec_col, block_col, k, iters)")
        val s = SparkSession.active
        val cat = stringArg(args.head, "graft_ann_build: catalog")
        val corpusTbl = stringArg(args(1), "graft_ann_build: corpus_table")
        val graphTbl = stringArg(args(2), "graft_ann_build: graph_table")
        val idCol = stringArg(args(3), "graft_ann_build: id_col")
        val vecCol = stringArg(args(4), "graft_ann_build: vec_col")
        val blockCol = stringArg(args(5), "graft_ann_build: block_col")
        val k = intArg(args(6), "graft_ann_build: k")
        val iters = intArg(args(7), "graft_ann_build: iters")
        val corpus = s.table(s"$cat.$corpusTbl")
        val edges = graft.operators.AnnIndex.buildEdges(
          corpus, idCol, vecCol, blockCol, k, iters)
        s.sql(s"DROP TABLE IF EXISTS $cat.$graphTbl")
        s.sql(s"""CREATE TABLE $cat.$graphTbl
                 |(a_id BIGINT, b_id BIGINT, cosine DOUBLE, rank INT)
                 |TBLPROPERTIES('history'='true')""".stripMargin)
        edges.select(col("a_id").cast("long"), col("b_id").cast("long"),
            col("cosine").cast("double"), col("rank").cast("int"))
          .writeTo(s"$cat.$graphTbl").append()
        // stamp the full-build baseline: graft_ann_optimize's bounded
        // re-descent reads only edges committed AFTER this version
        val (gfs, gdir) = fsDir(GraftTable.load(s, cat, graphTbl))
        val builtV = GraftTable.manifestVersions(gfs, gdir).last
        // also stamp the CORPUS version this graph reflects (when the
        // corpus is a history catalog table): optimize reads the corpus
        // changes feed after it to find DELETED vectors — O(changed)
        val corpusStamp = annCorpusVersions(s, cat, corpusTbl).lastOption.map(v =>
          s", '${graft.operators.AnnIndex.CorpusVersionProp}'='$v'")
          .getOrElse("")
        s.sql(s"ALTER TABLE $cat.$graphTbl SET TBLPROPERTIES(" +
          s"'${graft.operators.AnnIndex.BuiltVersionProp}'='$builtV'" +
          corpusStamp + ")")
        val g = s.table(s"$cat.$graphTbl")
        val nodes = g.select(countDistinct(col("a_id"))).collect()(0).getLong(0)
        val nEdges = g.count()
        import s.implicits._
        Bridge.logicalPlan(Seq((nodes, nEdges)).toDF("nodes", "edges"))
      }),
    ("graft_ann_refresh",
      info("graft_ann_refresh",
        "graft_ann_refresh(catalog, corpus_table, graph_table, id_col, " +
          "vec_col, k) - incrementally index corpus rows the persisted " +
          "graph has never seen: each new id is positioned by a beam " +
          "search over the EXISTING graph (the HNSW insert shape) and " +
          "appended as forward + reverse edges; returns (new_nodes, " +
          "edges_added)"),
      (args: Seq[Expression]) => {
        require(args.length == 6,
          "graft_ann_refresh(catalog, 'ns.corpus', 'ns.graph', id_col, " +
            "vec_col, k)")
        val s = SparkSession.active
        val cat = stringArg(args.head, "graft_ann_refresh: catalog")
        val corpusTbl = stringArg(args(1), "graft_ann_refresh: corpus_table")
        val graphTbl = stringArg(args(2), "graft_ann_refresh: graph_table")
        val idCol = stringArg(args(3), "graft_ann_refresh: id_col")
        val vecCol = stringArg(args(4), "graft_ann_refresh: vec_col")
        val k = intArg(args(5), "graft_ann_refresh: k")
        val corpus = s.table(s"$cat.$corpusTbl")
        val graph = s.table(s"$cat.$graphTbl")
        val newNodes = corpus.join(graph.select(col("a_id")).distinct(),
          corpus(idCol) === col("a_id"), "left_anti").count()
        val add = graft.operators.AnnIndex.refreshEdges(
            corpus, graph, idCol, vecCol, k)
          .select(col("a_id").cast("long"), col("b_id").cast("long"),
            col("cosine").cast("double"), col("rank").cast("int"))
          .localCheckpoint(eager = true) // one computation: counted AND appended
        val nAdd = add.count()
        add.writeTo(s"$cat.$graphTbl").append()
        import s.implicits._
        Bridge.logicalPlan(Seq((newNodes, nAdd)).toDF("new_nodes", "edges_added"))
      }),
    ("graft_ann_optimize",
      info("graft_ann_optimize",
        "graft_ann_optimize(catalog, corpus_table, graph_table, id_col, " +
          "vec_col, block_col, k) - bounded re-descent over the region refreshes " +
          "touched since the last full build/optimize (changes-feed " +
          "bounded read, O(touched) not O(corpus)): beam-placed " +
          "neighborhoods and slot-valued reverse edges re-rank to a " +
          "clean per-node top-k; untouched nodes keep their edges " +
          "verbatim. DELETED corpus vectors (corpus changes feed after " +
          "the ann.corpus.version baseline; post-purge: id sweep) lose " +
          "every edge row and their bereaved neighbors re-descend; " +
          "returns (appended_edges, touched_region, edges_after, " +
          "dead_nodes)"),
      (args: Seq[Expression]) => {
        require(args.length == 7,
          "graft_ann_optimize(catalog, 'ns.corpus', 'ns.graph', id_col, " +
            "vec_col, block_col, k)")
        val s = SparkSession.active
        val cat = stringArg(args.head, "graft_ann_optimize: catalog")
        val corpusTbl = stringArg(args(1), "graft_ann_optimize: corpus_table")
        val graphTbl = stringArg(args(2), "graft_ann_optimize: graph_table")
        val idCol = stringArg(args(3), "graft_ann_optimize: id_col")
        val vecCol = stringArg(args(4), "graft_ann_optimize: vec_col")
        val blockCol = stringArg(args(5), "graft_ann_optimize: block_col")
        val k = intArg(args(6), "graft_ann_optimize: k")
        val t = GraftTable.load(s, cat, graphTbl)
        val builtV = t.props.get(graft.operators.AnnIndex.BuiltVersionProp).map(_.toLong)
          .getOrElse(throw new IllegalArgumentException(
            s"graft_ann_optimize: $cat.$graphTbl carries no " +
              s"'${graft.operators.AnnIndex.BuiltVersionProp}' baseline — " +
              "run graft_ann_build once (pre-baseline graphs cannot bound " +
              "the touched region)"))
        import s.implicits._
        // the changes feed bounds this read to the files refreshes
        // APPENDED after the baseline (manifest diff — O(touched))
        val appended = s.sql(
          s"""SELECT a_id, b_id FROM $cat.$graphTbl.changes
             |WHERE _commit_version > $builtV
             |  AND _change_type = 'insert'""".stripMargin)
          .localCheckpoint(eager = true)
        val nAppended = appended.count()
        // DELETED corpus vectors since the graph's corpus baseline
        // (round 13): read the CORPUS changes feed — O(changed), never an
        // O(corpus) id sweep — and net out per id (an update emits
        // delete+insert in one commit and stays alive; a later re-insert
        // revives). Dead ids lose every edge row, both directions, and
        // their bereaved neighbors join the re-descent scope.
        val corpusV0 = t.props.get(graft.operators.AnnIndex.CorpusVersionProp).map(_.toLong)
        val corpusRetained = annCorpusVersions(s, cat, corpusTbl)
        val corpusHead = corpusRetained.lastOption
        def nonEmptyOpt(d: org.apache.spark.sql.DataFrame) =
          if (d.isEmpty) None else Some(d)
        val dead: Option[org.apache.spark.sql.DataFrame] =
          (corpusV0, corpusHead) match {
            case (Some(v0), Some(head))
                if head > v0 && corpusRetained.contains(v0) =>
              val chg = s.sql(
                s"""SELECT $idCol, _change_type, _commit_version
                   |FROM $cat.$corpusTbl.changes
                   |WHERE _commit_version > $v0""".stripMargin)
              nonEmptyOpt(chg
                .groupBy(col(idCol).cast("long").as("a_id"))
                .agg(org.apache.spark.sql.functions.max(
                  org.apache.spark.sql.functions.struct(
                    col("_commit_version"),
                    org.apache.spark.sql.functions.when(
                      col("_change_type") === "insert", 1).otherwise(0)
                      .as("ins"))).as("m"))
                .where(col("m.ins") === 0).select(col("a_id"))
                .localCheckpoint(eager = true))
            case (Some(v0), Some(head)) if head != v0 =>
              // the baseline snapshot is no longer retained — an
              // etl_purge vacuumed it (purge keeps only the head), so
              // the delete window is unreadable. Fall back to the sound
              // sweep: indexed ids with no corpus row. Costs one
              // column-pruned id scan — the price of a purge, never of
              // routine maintenance.
              nonEmptyOpt(s.table(s"$cat.$graphTbl")
                .select(col("a_id")).distinct()
                .join(s.table(s"$cat.$corpusTbl")
                  .select(col(idCol).cast("long").as("c_id")),
                  col("a_id") === col("c_id"), "left_anti")
                .select(col("a_id")).localCheckpoint(eager = true))
            case _ => None
          }
        val nDead = dead.map(_.count()).getOrElse(0L)
        // advance the corpus baseline even on a no-op pass: net-alive
        // change windows (pure appends, in-place updates) never need
        // re-reading
        def stampCorpus(): Unit = corpusHead.foreach(h =>
          if (!corpusV0.contains(h))
            s.sql(s"ALTER TABLE $cat.$graphTbl SET TBLPROPERTIES(" +
              s"'${graft.operators.AnnIndex.CorpusVersionProp}'='$h')"))
        if (nAppended == 0 && nDead == 0) {
          // quiet since the baseline: nothing to re-descend, zero writes
          stampCorpus()
          Bridge.logicalPlan(Seq((0L, 0L,
            s.table(s"$cat.$graphTbl").count(), 0L))
            .toDF("appended_edges", "touched_region", "edges_after",
              "dead_nodes"))
        } else {
          val corpus = s.table(s"$cat.$corpusTbl")
          val graph = s.table(s"$cat.$graphTbl")
          val optimized = graft.operators.AnnIndex.optimizeEdges(
              corpus, graph, appended, idCol, vecCol, blockCol, k,
              iters = 1, dead = dead)
            .select(col("a_id").cast("long"), col("b_id").cast("long"),
              col("cosine").cast("double"), col("rank").cast("int"))
            .localCheckpoint(eager = true) // breaks the self-read lineage
          val touched = graft.operators.AnnIndex.lastScopeSize.get()
          // reset the thread-local FIRST: it retains the version of any
          // earlier commit on this thread, and the require below must
          // verify THIS overwrite reported its own commit, not pass on
          // a stale value
          graft.sources.GraftBatchWrite.lastCommittedVersion.set(-1L)
          optimized.writeTo(s"$cat.$graphTbl")
            .overwrite(org.apache.spark.sql.functions.lit(true))
          // stamp the overwrite's OWN committed version (thread-local
          // from the batch write), never a re-listed head: a concurrent
          // graph commit landing between the overwrite and the stamp
          // would otherwise get baselined-over and its appended edges
          // silently skipped by every future optimize
          val newHead = graft.sources.GraftBatchWrite
            .lastCommittedVersion.get()
          require(newHead > 0,
            s"graft_ann_optimize: the overwrite of $cat.$graphTbl did " +
              "not report its committed version")
          s.sql(s"ALTER TABLE $cat.$graphTbl SET TBLPROPERTIES(" +
            s"'${graft.operators.AnnIndex.BuiltVersionProp}'='$newHead')")
          stampCorpus()
          Bridge.logicalPlan(Seq((nAppended, touched, optimized.count(),
              nDead))
            .toDF("appended_edges", "touched_region", "edges_after",
              "dead_nodes"))
        }
      }),
    ("graft_row_diff",
      info("graft_row_diff",
        "graft_row_diff(catalog, table, v_from, v_to) - per-_row_id " +
          "before/after change images between two retained snapshots of " +
          "a row-lineage table: base columns + _row_id + _change_type " +
          "(insert | delete | update_preimage | update_postimage). Reads " +
          "only the files the manifest diff names; identity is the row " +
          "id, so COW rewrites classify as updates, compaction as nothing"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          "graft_row_diff(catalog, 'ns.t', v_from, v_to) — bounds are " +
            "integer versions, tag names, or timestamps")
        val t = tableArg(args, "graft_row_diff")
        def versionArg(e: Expression, which: String): Long =
          resolveVersionBound(t, e, which, "graft_row_diff")
        Bridge.logicalPlan(graft.sources.GraftRowDiff.diff(
          SparkSession.active, t,
          versionArg(args(2), "v_from"), versionArg(args(3), "v_to")))
      }),
    ("graft_changes",
      info("graft_changes",
        "graft_changes(catalog, table, from, to) - the change feed of a " +
          "history table bounded by two commits (each an integer " +
          "version, tag name, or timestamp resolved at-or-before): the " +
          "row images of the commits that move the table FROM the first " +
          "bound's state TO the second's — the positional twin of " +
          "graft_row_diff's bounds, (from, to]"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          "graft_changes(catalog, 'ns.t', from, to) — bounds are " +
            "integer versions, tag names, or timestamps")
        val cat = stringArg(args.head, "graft_changes: catalog")
        val tbl = stringArg(args(1), "graft_changes: table")
        val t = tableArg(args, "graft_changes")
        val vFrom = resolveVersionBound(t, args(2), "from", "graft_changes")
        val vTo = resolveVersionBound(t, args(3), "to", "graft_changes")
        require(vFrom <= vTo,
          s"graft_changes: from-bound $vFrom must not exceed to-bound $vTo")
        val s = SparkSession.active
        Bridge.logicalPlan(s.table(s"$cat.$tbl.${graft.sources.GraftChanges.Suffix}")
          .where(org.apache.spark.sql.functions
            .col(graft.sources.GraftChanges.VersionCol) > vFrom &&
            org.apache.spark.sql.functions
              .col(graft.sources.GraftChanges.VersionCol) <= vTo))
      }),
    // DESCRIBE HISTORY for graft-catalog snapshot tables:
    //   SELECT * FROM graft_history('graft_wh', 'db.t')
    ("graft_history",
      info("graft_history",
        "graft_history(catalog, table) - snapshot log of a history table: " +
          "(version, committed_at millis, n_files, bytes)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_history(catalog_name, 'namespace.table')")
        val s = SparkSession.active
        import s.implicits._
        Bridge.logicalPlan(GraftTable.snapshots(tableArg(args, "graft_history"))
          .toDF("version", "committed_at", "n_files", "bytes"))
      }))

  /** Imperative registration on an already-built session. */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
    tableFunctions.foreach { case (name, _, builder) =>
      spark.sessionState.tableFunctionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
  }
}
