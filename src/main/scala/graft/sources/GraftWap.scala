package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Write–Audit–Publish: land a batch NEXT TO a history table, run quality
  * audits against the would-be state, then make it visible in one atomic
  * commit — or walk away leaving no trace. The pattern every serious
  * ingestion pipeline runs at 100 TB: bad data discovered AFTER a commit
  * needs a restatement; bad data discovered in a staged batch needs `rm`.
  *
  * Mechanics ride the existing snapshot machinery: staged files live in a
  * dot-prefixed `.wap-<token>/` subdir (invisible to both the manifest log
  * and plain-parquet directory listing), so readers CANNOT see them;
  * `audit` unions the table with the staged files for inspection;
  * `publish` moves the files in and appends them to the manifest via the
  * same optimistic-retry commit as any INSERT — concurrent appends
  * interleave safely. Declared CHECK constraints are enforced at publish
  * (the staged files bypassed the constrained writer), so WAP cannot be
  * used to smuggle violations past the table's own gate.
  */
object GraftWap {

  private def wapDir(t: GraftTable, token: String) =
    new Path(t.dir, s".wap-$token")

  private def fsOf(spark: SparkSession, t: GraftTable) =
    new Path(t.dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Stage `df` against `catalog.table`; returns the WAP token. The data
    * is written (schema-checked against the table) but NO reader of the
    * table can see it until [[publish]]. Staged bytes are plain flat
    * parquet whatever the table's layout — layout routing (day dirs,
    * identity partitions, bucket files) happens at publish time.
    */
  def stage(spark: SparkSession, catalog: String, table: String,
            df: DataFrame): String = {
    val t = GraftTable.load(spark, catalog, table)
    require(t.history,
      s"WAP on $catalog.$table needs a history table — the manifest log is " +
        "what makes staged files invisible (TBLPROPERTIES('history'='true'))")
    val sch = t.schema()
    require(df.columns.toSeq == sch.fieldNames.toSeq,
      s"WAP batch columns ${df.columns.mkString(",")} must match table " +
        s"columns ${sch.fieldNames.mkString(",")} (same order)")
    val token = java.util.UUID.randomUUID().toString.take(8)
    val target = wapDir(t, token)
    // cast to the exact table types so publish-time reads see table-
    // typed parquet, then land as plain parquet under the dot-dir
    val casted = df.select(sch.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    casted.write.parquet(target.toString)
    token
  }

  /** The WOULD-BE table state: current snapshot ∪ staged batch. Run any
    * audit query against this (row counts, distribution drift, dup scans
    * against the existing corpus — the same queries the engine ships).
    */
  def audit(spark: SparkSession, catalog: String, table: String,
            token: String): DataFrame = {
    val t = GraftTable.load(spark, catalog, table)
    spark.table(s"$catalog.$table")
      .unionByName(staged(spark, t, token))
  }

  /** Just the staged rows (for audits scoped to the new batch). */
  def stagedBatch(spark: SparkSession, catalog: String, table: String,
                  token: String): DataFrame =
    staged(spark, GraftTable.load(spark, catalog, table), token)

  private def staged(spark: SparkSession, t: GraftTable,
                     token: String): DataFrame =
    spark.read.schema(t.schema()).parquet(wapDir(t, token).toString)

  /** Rows of the staged batch violating the table's DECLARED checks — the
    * built-in audit. Empty means the batch would pass the writer's gate.
    */
  def checkViolations(spark: SparkSession, catalog: String, table: String,
                      token: String): DataFrame = {
    val t = GraftTable.load(spark, catalog, table)
    val batch = staged(spark, t, token)
    val conds = t.checks.map { case (_, text) => expr(s"($text) <=> false") } ++
      t.schema().fields.filterNot(_.nullable).toSeq
        .filter(f => batch.columns.contains(f.name))
        .map(f => col(f.name).isNull)
    conds.reduceOption(_ || _) match {
      case Some(v) => batch.where(v)
      case None => batch.limit(0)
    }
  }

  /** Make the staged batch visible: enforce declared checks, then commit
    * in ONE atomic manifest append. Flat tables take the fast path (the
    * staged files are MOVED in — zero rewrite); tables with a layout
    * (days()/identity partitions/bucketing) RE-ROUTE the staged rows
    * through the catalog writer at publish time, so published data lands
    * in the table's own directory/file contract and pruning and
    * storage-partitioned joins survive — at 100 TB the table you most
    * want to write-audit-publish into IS the day-partitioned fact table.
    * Either way the append commit is the same optimistic-retry manifest
    * create as any INSERT. Returns the new snapshot version.
    */
  def publish(spark: SparkSession, catalog: String, table: String,
              token: String): Long = {
    val t = GraftTable.load(spark, catalog, table)
    val nBad = checkViolations(spark, catalog, table, token).count()
    require(nBad == 0,
      s"WAP publish refused: $nBad staged row(s) violate $catalog.$table's " +
        "declared CHECK constraints — fix or abort the batch")
    val fs = fsOf(spark, t)
    val src = wapDir(t, token)
    val dir = new Path(t.dir)
    // row-lineage tables ALWAYS re-route through the catalog writer:
    // staged plain parquet has no `_row_id` column, so a fast-path move
    // would land files serving NULL ids — a silent lineage gap (the
    // refusal matrix GraftRowId documents)
    val hasLayout =
      t.partitionCols.nonEmpty || t.bucketSpec.nonEmpty || t.dayCol.nonEmpty ||
        t.rowLineage
    val v = if (hasLayout) {
      // layout routing: the catalog writer owns day/partition/bucket
      // placement (and re-runs the constraint gate per row); its commit
      // is the atomic manifest append. The committed version is pinned
      // by bracketing the append — a racing commit would make the
      // returned version ambiguous, so it fails loudly instead
      val v0 = GraftTable.manifestVersions(fs, dir).lastOption.getOrElse(0L)
      staged(spark, t, token).writeTo(s"$catalog.$table").append()
      val v1 = GraftTable.manifestVersions(fs, dir).last
      require(v1 == v0 + 1,
        s"WAP publish: expected exactly one commit ($v0 -> $v1) — " +
          "a concurrent writer landed between stage and publish")
      v1
    } else {
      val landed = fs.listStatus(src).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map { st =>
          val tgt = new Path(dir, s"wap-$token-${st.getPath.getName}")
          if (!fs.rename(st.getPath, tgt))
            throw new java.io.IOException(s"WAP publish: rename failed for $tgt")
          tgt.toString
        }
      GraftTable.commitRetrying(fs, dir,
        meta = GraftTable.kindMeta(GraftTable.KindAppend))(
        _.entries ++ landed.map(GraftTable.GraftEntry(_)))
    }
    fs.delete(src, true)
    v
  }

  /** Discard the staged batch — no commit happened, nothing to undo. */
  def abort(spark: SparkSession, catalog: String, table: String,
            token: String): Unit = {
    val t = GraftTable.load(spark, catalog, table)
    fsOf(spark, t).delete(wapDir(t, token), true)
  }
}
