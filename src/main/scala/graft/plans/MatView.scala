package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType

import graft.sources.{GraftScan, GraftTable}

/** Materialized views with TRANSPARENT query rewrite — the rollup a
  * 100 TB warehouse actually serves dashboards from. A registered MV is a
  * catalog table holding `SELECT group..., measures... FROM base GROUP BY
  * group...` at some grain; [[MvRewrite]] then rewrites any COARSER
  * aggregate over the base table (grouping ⊆ grain, filters on grain
  * columns only, measures derivable) to read the MV instead — the query
  * text doesn't change, the scan does. At scale this turns a
  * full-fact-table scan + shuffle into a scan of a table that is smaller
  * by the rollup ratio (typically 10³–10⁶×).
  *
  * Correctness rules:
  *   - The base must be a HISTORY table: every commit bumps the manifest
  *     version, and the rewrite fires only when the MV's recorded base
  *     version equals the base's CURRENT version. A stale MV silently
  *     falls back to the base scan — never a wrong answer, just a slower
  *     one — until [[refresh]] catches it up.
  *   - Derivable measures: SUM/MIN/MAX over a bare column, COUNT(*),
  *     COUNT(col). Re-aggregation is sum-of-sums / min-of-mins /
  *     max-of-maxes / sum-of-counts, each exact over any regrouping
  *     (SUM's null-iff-all-null semantics compose because per-group NULL
  *     partials are skipped by the outer SUM). AVG is deliberately not
  *     matched — users compose it from SUM/COUNT.
  *   - The rewrite never touches row-level (COW/delta) scans, time-travel
  *     pinned reads, DISTINCT aggregates, FILTER clauses, or
  *     non-deterministic predicates.
  *
  * Refresh is INCREMENTAL when the base only appended since the MV's
  * version (the manifest diff lists exactly the new files; their delta
  * rollup MERGEs into the MV — sums add, counts add, min/max fold), and a
  * full rebuild otherwise. At 100 TB the incremental path reads only the
  * day's arrivals, never the historical fact table.
  *
  * (Reference analog: the scraper's summary CSV re-derived per run,
  * main.py:329-331 — here the re-derivation is incremental and the
  * optimizer serves readers from it automatically.)
  */
object MatView {

  /** One derived measure column of an MV: `alias` is the MV column name,
    * `fn` ∈ sum|min|max|count|countnn, `src` the base column ("" for
    * count, which is COUNT(*)).
    */
  case class Measure(alias: String, fn: String, src: String) {
    require(Set("sum", "min", "max", "count", "countnn").contains(fn),
      s"unsupported MV measure function $fn")
    require(fn == "count" || src.nonEmpty, s"measure $fn needs a source column")
  }

  case class MvMeta(catalog: String, mvTable: String, mvDir: String,
                    baseTable: String, baseDir: String,
                    group: Seq[String], measures: Seq[Measure],
                    baseVersion: Long)

  val BaseProp = "graft.mv.base"
  val BaseDirProp = "graft.mv.base.dir"
  val GroupProp = "graft.mv.group"
  val MeasuresProp = "graft.mv.measures"
  val VersionProp = "graft.mv.base.version"

  /** base dir → registered MVs (newest first). JVM-wide: the driver's
    * session is the only planner, and keys are absolute table dirs so two
    * catalogs can't collide.
    */
  private val registry = TrieMap.empty[String, List[MvMeta]]

  private[plans] def registered(baseDir: String): List[MvMeta] =
    registry.getOrElse(baseDir, Nil)
  private[plans] def isEmpty: Boolean = registry.isEmpty

  /** Test hook: forget every registration (tables stay on disk). */
  def clearRegistry(): Unit = registry.clear()

  private def hadoopFs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Current manifest version of a history table. */
  def currentVersion(spark: SparkSession, baseDir: String): Long = {
    val fs = hadoopFs(spark, baseDir)
    GraftTable.manifestVersions(fs, new Path(baseDir)).lastOption.getOrElse(
      throw new IllegalStateException(s"MatView: $baseDir has no manifest log"))
  }

  private def aggColumn(m: Measure): Column = m.fn match {
    case "sum" => sum(col(m.src)).as(m.alias)
    case "min" => min(col(m.src)).as(m.alias)
    case "max" => max(col(m.src)).as(m.alias)
    case "count" => count(lit(1)).as(m.alias)
    case "countnn" => count(col(m.src)).as(m.alias)
  }

  private def rollup(spark: SparkSession, catalog: String, baseTable: String,
                     group: Seq[String], measures: Seq[Measure]): DataFrame = {
    val aggs = measures.map(aggColumn)
    spark.table(s"$catalog.$baseTable")
      .groupBy(group.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  private def encodeMeasures(ms: Seq[Measure]): String =
    ms.map(m => s"${m.alias}:${m.fn}:${m.src}").mkString(";")

  private def decodeMeasures(s: String): Seq[Measure] =
    s.split(';').toSeq.filter(_.nonEmpty).map { enc =>
      enc.split(":", -1) match {
        case Array(a, f, c) => Measure(a, f, c)
        case other => throw new IllegalStateException(
          s"MatView: corrupt measure encoding '$enc'")
      }
    }

  /** Build an MV over `catalog.baseTable` (a history table) at grain
    * `group`, materialize it as `catalog.mvTable`, persist its metadata as
    * table properties, and register it for rewrite.
    */
  def create(spark: SparkSession, catalog: String, baseTable: String,
             mvTable: String, group: Seq[String],
             measures: Seq[Measure]): MvMeta = {
    require(baseTable != mvTable, "MatView: MV cannot be its own base")
    require(group.nonEmpty && measures.nonEmpty,
      "MatView: need at least one group column and one measure")
    val base = GraftTable.load(spark, catalog, baseTable)
    require(base.history,
      s"MatView: base $catalog.$baseTable must be a history table " +
        s"(TBLPROPERTIES('history'='true')) — staleness is version-stamped")
    (group ++ measures.filter(_.src.nonEmpty).map(_.src)).foreach { c =>
      require(base.schema().fieldNames.contains(c),
        s"MatView: column $c not in base schema")
    }
    // deregister any previous MV of this base with the same name, so a
    // re-create never leaves a dangling meta pointing at the dropped dir
    registry.updateWith(base.dir)(prev =>
      prev.map(_.filterNot(_.mvTable == mvTable)).filter(_.nonEmpty))
    val version = currentVersion(spark, base.dir)
    val df = rollup(spark, catalog, baseTable, group, measures)
    spark.sql(s"DROP TABLE IF EXISTS $catalog.$mvTable")
    spark.sql(s"CREATE TABLE $catalog.$mvTable (${df.schema.toDDL})")
    df.writeTo(s"$catalog.$mvTable").append()
    val mv = GraftTable.load(spark, catalog, mvTable)
    val fs = hadoopFs(spark, mv.dir)
    GraftTable.writeProps(fs, new Path(mv.dir), Map(
      BaseProp -> baseTable, BaseDirProp -> base.dir,
      GroupProp -> group.mkString(","),
      MeasuresProp -> encodeMeasures(measures),
      VersionProp -> version.toString))
    val meta = MvMeta(catalog, mvTable, mv.dir, baseTable, base.dir,
      group, measures, version)
    registry.updateWith(base.dir)(prev => Some(meta :: prev.getOrElse(Nil)))
    meta
  }

  /** Re-register an MV from its persisted table properties (a new session
    * finding MVs built by an earlier one).
    */
  def register(spark: SparkSession, catalog: String, mvTable: String): MvMeta =
    register(catalog, mvTable, GraftTable.load(spark, catalog, mvTable))

  private def register(catalog: String, mvTable: String, mv: GraftTable): MvMeta = {
    val props = mv.props
    val meta = MvMeta(catalog, mvTable, mv.dir,
      props(BaseProp), props(BaseDirProp),
      props(GroupProp).split(',').toSeq,
      decodeMeasures(props(MeasuresProp)),
      props(VersionProp).toLong)
    registry.updateWith(meta.baseDir)(prev =>
      Some(meta :: prev.getOrElse(Nil).filterNot(_.mvTable == mvTable)))
    meta
  }

  /** Catch the MV up to the base's current version. Returns the refresh
    * mode actually taken: "noop" (already fresh), "incremental" (manifest
    * diff = pure appends → delta rollup MERGEd in), or "full" (rewrites /
    * deletes happened → rebuild).
    */
  def refresh(spark: SparkSession, catalog: String, mvTable: String): String = {
    val mv = GraftTable.load(spark, catalog, mvTable)
    val meta = register(catalog, mvTable, mv) // re-read persisted state
    val base = GraftTable.load(spark, catalog, meta.baseTable)
    val fs = hadoopFs(spark, base.dir)
    val cur = currentVersion(spark, base.dir)
    if (cur == meta.baseVersion) return "noop"
    val before = GraftTable.readManifest(fs, new Path(base.dir), meta.baseVersion).toSet
    val after = GraftTable.readManifest(fs, new Path(base.dir), cur).toSet
    val appendOnly = before.subsetOf(after) && !base.mor &&
      base.partitionCols.isEmpty && base.bucketSpec.isEmpty
    val mode = if (appendOnly) {
      val added = (after -- before).toSeq.sorted // absolute (readManifest resolves)
      val delta = {
        val aggs = meta.measures.map(aggColumn)
        spark.read.schema(base.physicalSchema).parquet(added: _*)
          .groupBy(meta.group.map(col): _*)
          .agg(aggs.head, aggs.tail: _*)
      }
      val view = s"graft_mv_delta_${math.abs(meta.mvDir.hashCode).toString}"
      delta.createOrReplaceTempView(view)
      val on = meta.group.map(k => s"t.`$k` <=> s.`$k`").mkString(" AND ")
      val sets = meta.measures.map { m =>
        val (t, s) = (s"t.`${m.alias}`", s"s.`${m.alias}`")
        m.fn match {
          case "sum" =>
            s"`${m.alias}` = CASE WHEN $t IS NULL AND $s IS NULL THEN NULL " +
              s"ELSE COALESCE($t, 0) + COALESCE($s, 0) END"
          case "count" | "countnn" => s"`${m.alias}` = $t + $s"
          case "min" => s"`${m.alias}` = LEAST($t, $s)"
          case "max" => s"`${m.alias}` = GREATEST($t, $s)"
        }
      }.mkString(", ")
      val ins = (meta.group ++ meta.measures.map(_.alias)).map(c => s"`$c`")
      spark.sql(
        s"""MERGE INTO $catalog.${meta.mvTable} t
           |USING $view s ON $on
           |WHEN MATCHED THEN UPDATE SET $sets
           |WHEN NOT MATCHED THEN INSERT (${ins.mkString(", ")})
           |  VALUES (${ins.map(c => s"s.$c").mkString(", ")})
           |""".stripMargin)
      spark.catalog.dropTempView(view)
      "incremental"
    } else {
      create(spark, catalog, meta.baseTable, mvTable, meta.group, meta.measures)
      "full"
    }
    if (mode == "incremental") {
      GraftTable.writeProps(hadoopFs(spark, meta.mvDir), new Path(meta.mvDir),
        mv.props + (VersionProp -> cur.toString))
      registry.updateWith(meta.baseDir)(prev => Some(
        meta.copy(baseVersion = cur) ::
          prev.getOrElse(Nil).filterNot(_.mvTable == mvTable)))
    }
    mode
  }

  /** Install the rewrite rule on a session (idempotent). extraOptimizations
    * is the imperative hook that works on an ALREADY-BUILT session (the
    * driver owns session construction); it runs after the main optimizer
    * batches, which is exactly where a whole-subtree substitution belongs.
    */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[MvRewrite]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewrite(spark)
  }
}

/** The transparent-rewrite rule. Matches
  * `Aggregate([Project*|Filter*] GraftTable-scan)` where a FRESH MV covers
  * the table, the grouping/filter columns are within the MV grain, and all
  * measures are derivable — and replaces the whole subtree with the same
  * aggregate over the MV (re-planned through the session, so the MV scan
  * itself gets pruning/pushdown), wrapped in a Project that restores the
  * original output attributes (names, exprIds, types, nullability).
  */
case class MvRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  import MatView._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MatView.isEmpty) plan
    else plan.transformDown {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }

  /** Strip Filter / pure-column Project down to a graft scan. */
  private def baseOf(p: LogicalPlan,
                     conds: Seq[Expression]): Option[(GraftTable, Seq[Expression])] =
    p match {
      case Filter(c, ch) => baseOf(ch, conds :+ c)
      case Project(pl, ch) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        baseOf(ch, conds)
      case r: DataSourceV2ScanRelation => r.scan match {
        case s: GraftScan if !s.isRowLevelScan => Some((s.graftTable, conds))
        case _ => None
      }
      case r: DataSourceV2Relation => r.table match {
        case t: GraftTable => Some((t, conds))
        case _ => None
      }
      case _ => None
    }

  /** (fn, srcCol or None for COUNT(*), result type, result nullable) of a
    * result expression that is a supported aggregate call, seen through
    * Cast wrappers and the DecimalAggregates MakeDecimal(Sum(UnscaledValue))
    * rewrite the optimizer applies to narrow decimals.
    */
  private def asAggCall(e: Expression): Option[(String, Option[String])] = e match {
    case c: Cast => asAggCall(c.child)
    case md: MakeDecimal => md.child match {
      case ae: AggregateExpression
        if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Sum(UnscaledValue(a: AttributeReference), _) => Some(("sum", Some(a.name)))
          case _ => None
        }
      case _ => None
    }
    case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Sum(a: AttributeReference, _) => Some(("sum", Some(a.name)))
        case Min(a: AttributeReference) => Some(("min", Some(a.name)))
        case Max(a: AttributeReference) => Some(("max", Some(a.name)))
        case Count(Seq(Literal(_, _))) => Some(("count", None))
        case Count(Seq(a: AttributeReference)) => Some(("countnn", Some(a.name)))
        case _ => None
      }
    case _ => None
  }

  private def measureFor(meta: MvMeta, fn: String,
                         src: Option[String]): Option[Measure] =
    meta.measures.find(m => m.fn == fn && src.forall(_ == m.src) &&
      (src.nonEmpty || m.fn == "count"))

  /** What each original output column maps to on the MV side.
    * `countLike` marks count-family measures, whose re-aggregation must
    * return 0 (not NULL) on an UNGROUPED aggregate over an empty base —
    * `SELECT COUNT(*)` over an empty table is 0, but SUM(mv.count) over
    * the (equally empty) MV is NULL, so the combine is wrapped in
    * COALESCE(…, 0) when there are no grouping keys.
    */
  private sealed trait Out
  private case class GroupOut(name: String) extends Out
  private case class AggOut(mvAlias: String, combine: String,
                            countLike: Boolean) extends Out

  private def fresh(spark: SparkSession, meta: MvMeta): Boolean =
    try MatView.currentVersion(spark, meta.baseDir) == meta.baseVersion
    catch { case _: Exception => false }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (table, conds) = baseOf(agg.child, Nil).getOrElse(return None)
    if (table.pinnedVersion.nonEmpty) return None
    val candidates = MatView.registered(table.dir)
    if (candidates.isEmpty) return None

    // grouping must be bare columns; remember them by name
    val groupNames = agg.groupingExpressions.map {
      case a: AttributeReference => a.name
      case _ => return None
    }

    val condRefs = conds.flatMap(_.references.toSeq.map(_.name))
    if (!conds.forall(_.deterministic)) return None

    candidates.iterator.flatMap { meta =>
      if (!groupNames.forall(meta.group.contains) ||
        !condRefs.forall(meta.group.contains)) None
      else {
        // map every output column or give up on this candidate
        val outs: Option[Seq[Out]] = {
          val mapped = agg.aggregateExpressions.map {
            case a: AttributeReference if groupNames.contains(a.name) =>
              Some(GroupOut(a.name))
            case Alias(a: AttributeReference, _) if groupNames.contains(a.name) =>
              Some(GroupOut(a.name))
            case Alias(child, _) =>
              asAggCall(child).flatMap { case (fn, src) =>
                measureFor(meta, fn, src).map { m =>
                  val combine = fn match {
                    case "sum" | "count" | "countnn" => "sum"
                    case "min" => "min"
                    case "max" => "max"
                  }
                  AggOut(m.alias, combine,
                    countLike = fn == "count" || fn == "countnn")
                }
              }
            case _ => None
          }
          if (mapped.forall(_.isDefined)) Some(mapped.map(_.get)) else None
        }
        outs.filter(_ => fresh(spark, meta))
          .map(o => build(agg, meta, conds, groupNames, o))
      }
    }.nextOption()
  }

  /** Re-express an original predicate over the MV's columns by name. */
  private def overMv(e: Expression): Column =
    Bridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  private def build(agg: Aggregate, meta: MvMeta, conds: Seq[Expression],
                    groupNames: Seq[String], outs: Seq[Out]): LogicalPlan = {
    val mv0 = spark.table(s"${meta.catalog}.${meta.mvTable}")
    val filtered = conds.foldLeft(mv0)((df, c) => df.where(overMv(c)))
    // group by the ORIGINAL grouping keys, never the output-derived ones:
    // column pruning can strip a grouping key from the aggregate's output
    // (e.g. `COUNT(*) over (… GROUP BY k)`), and regrouping by the pruned
    // output would silently collapse distinct-k rows into a global row
    val groupCols = groupNames.distinct
    val aggCols = outs.zipWithIndex.collect {
      case (AggOut(alias, combine, countLike), i) =>
        val c = col(s"`$alias`")
        val combined = combine match {
          case "sum" => sum(c)
          case "min" => min(c)
          case "max" => max(c)
        }
        // ungrouped COUNT over an empty base must be 0, not SUM-of-nothing
        (if (countLike && agg.groupingExpressions.isEmpty)
          coalesce(combined, lit(0L))
        else combined).as(s"__mv_$i")
    }
    val aggsOrDummy =
      if (aggCols.nonEmpty) aggCols else Seq(count(lit(1)).as("__mv_dummy"))
    val res = filtered.groupBy(groupCols.map(c => col(s"`$c`")): _*)
      .agg(aggsOrDummy.head, aggsOrDummy.tail: _*)
    val inner = Bridge.optimizedPlan(res)

    val byName = inner.output.map(a => a.name -> a).toMap
    val resultExprs = agg.output.zipWithIndex.map { case (orig, i) =>
      val srcAttr = outs(i) match {
        case GroupOut(n) => byName(n)
        case _: AggOut => byName(s"__mv_$i")
      }
      var e: Expression = srcAttr
      if (e.dataType != orig.dataType) e = Cast(e, orig.dataType)
      if (e.nullable && !orig.nullable) e = KnownNotNull(e)
      Alias(e, orig.name)(exprId = orig.exprId)
    }
    Project(resultExprs, inner)
  }
}
