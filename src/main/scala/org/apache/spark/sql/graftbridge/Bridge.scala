package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression and DataFrame ⇄ LogicalPlan bridges. These Spark
  * internals are private[sql] in Spark 4, so the graft custom expressions
  * and plans go through this sub-package shim — the conventional way for
  * libraries to lift Catalyst constructs into the public API.
  */
object Bridge {
  /** `CatalogV2Util.applySchemaChanges` is private[sql]: Spark's own fold
    * for DSv2 TableChanges — used for the default-value metadata stamping
    * (CURRENT/EXISTS keys) so INSERT resolution and the read path agree
    * byte-for-byte with what the analyzer expects.
    */
  def applySchemaChanges(schema: org.apache.spark.sql.types.StructType,
                         changes: Seq[org.apache.spark.sql.connector.catalog.TableChange])
      : org.apache.spark.sql.types.StructType =
    // provider "parquet": the graft catalog's physical format — what
    // Spark's defaultColumn.allowedProviders allow-list keys on
    org.apache.spark.sql.connector.catalog.CatalogV2Util
      .applySchemaChanges(schema, changes, Some("parquet"), "ALTER TABLE")

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's own divide-by-zero error (ANSI mode), for custom expressions
    * that fold a division in. */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)

  /** EAGER ColumnNode → Expression conversion. `expression` wraps the
    * column tree in a lazy ColumnNodeExpression, which is fine as a child
    * of a custom expression inside a Dataset plan (the analyzer converts
    * it) but UNEVALUABLE when returned from an injected SQL function
    * builder — builders must hand the analyzer a real expression tree.
    */
  def resolvedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  def logicalPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Fully-optimized plan of a DataFrame — used by the MV rewrite rule to
    * splice an already-planned replacement subtree into a plan that is
    * itself past the main optimizer batches (so the replacement must not
    * re-enter them).
    */
  def optimizedPlan(df: DataFrame): LogicalPlan = df.queryExecution.optimizedPlan

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Registered catalog plugin by name (CatalogManager is private[sql]). */
  def catalogPlugin(spark: SparkSession,
                    name: String): org.apache.spark.sql.connector.catalog.CatalogPlugin =
    spark.sessionState.catalogManager.catalog(name)

  /** Columns → StructType including default metadata (CatalogV2Util is
    * private[sql]); identity specs do NOT survive this conversion — the
    * catalog must lift them from `Column.identityColumnSpec` first.
    */
  def v2ColumnsToStructType(
      cols: Array[org.apache.spark.sql.connector.catalog.Column]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.connector.catalog.CatalogV2Util.v2ColumnsToStructType(cols)

  /** Drop every cached catalog INSTANCE (conf entries survive; instances
    * re-create lazily from the CURRENT conf on next reference). Spark
    * caches plugin instances by name forever, so a session that re-points
    * `spark.sql.catalog.<name>.warehouse` — two harnesses sharing one
    * session, each configuring the same catalog name against its own
    * scratch dir — silently keeps writing to the FIRST warehouse. Shared-
    * session test harnesses call this before running inventory queries.
    */
  def resetCatalogCache(spark: SparkSession): Unit =
    spark.sessionState.catalogManager.reset()

  /** Blocks until every listener has processed every event posted so far:
    * job and stage ends and query-execution callbacks are delivered
    * asynchronously (`LiveListenerBus` is private[spark]).
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** DataFrame over an RDD[InternalRow] (`df.queryExecution.toRdd` shape):
    * the per-partition imperative operators (GlobalRank) stay in Tungsten
    * binary rows end-to-end instead of round-tripping through the external
    * Row encoder — the deserialize/reserialize pass dominates their cost.
    */
  def ofInternalRows(spark: SparkSession,
                     schema: org.apache.spark.sql.types.StructType,
                     rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
