package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Maintenance passes for graft-catalog tables. Copy-on-write MERGE plus
  * streaming/incremental ingest both shed small files; at 100 TB the
  * resulting listing/metadata cost is THE operational scan bottleneck, so
  * compaction is a first-class verb next to the write paths (Iceberg's
  * rewrite_data_files / Delta's OPTIMIZE).
  */
object GraftMaintenance {

  /** Maintenance verbs rewrite files and commit manifests through the
    * filesystem, bypassing the catalog's write builders — so the writer
    * protocol fence (GraftTable.enforceWrite) must be re-applied HERE, or
    * a raised `graft.format.writer` stamp would stop INSERTs while
    * optimize/restore/compact kept mutating the fenced table.
    */
  private def fence(table: GraftTable, what: String): Unit =
    GraftTable.enforceWrite(table.requiredWriter, s"$what on ${table.dir}")

  private def fsOf(spark: SparkSession, table: GraftTable): FileSystem =
    new Path(table.dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Partition count for distributed maintenance jobs (deep-clone and
    * replication copies, stats/NDV backfill, bloom build): one per item,
    * at most the cluster's default parallelism — a 1000-executor cluster
    * spreads the work; local mode keeps its core count. Never a
    * hardcoded cap.
    */
  def parallelism(spark: SparkSession, items: Int): Int =
    math.max(1, math.min(items, spark.sparkContext.defaultParallelism))

  /** What a rewrite verb rewrites: the table's files once its row-level
    * masks are folded (MOR deletion vectors, then a history table's
    * equality masks — a raw re-read would resurrect masked rows), and on
    * a history table the head they were read from, by ONE lookup: the
    * rewrite's commit rebases over it ([[GraftTable.rebasing]]).
    */
  private final case class RewriteBase(head: Option[GraftTable.Snapshot],
                                       files: Seq[String])

  private def foldedBase(spark: SparkSession, fs: FileSystem,
                         table: GraftTable): RewriteBase = {
    val dir = new Path(table.dir)
    if (table.mor) materializeDeletes(spark, table)
    if (!table.history)
      return RewriteBase(None, GraftTable.dataFiles(fs, dir))
    val head0 = GraftTable.readHead(fs, dir, None)
    val head =
      if (!head0.entries.exists(_.eqs.nonEmpty)) head0
      else {
        GraftEqDelete.materializeEqDeletes(spark, table)
        GraftTable.readHead(fs, dir, None)
      }
    RewriteBase(Some(head), head.entries.map(_.file))
  }

  /** Commit a history-table rewrite: ONE `compact` manifest swapping the
    * head's `replaced` entries for `added`, rebased over any racing
    * commit that left the replaced entries alone and refused otherwise;
    * a refused commit deletes the added files it landed.
    */
  private[sources] def commitRewrite(fs: FileSystem, dir: Path,
                                     replaced: Seq[GraftTable.GraftEntry],
                                     added: Seq[GraftTable.GraftEntry]): Long =
    try GraftTable.commitRetrying(fs, dir,
        meta = GraftTable.kindMeta(GraftTable.KindCompact))(
      GraftTable.rebasing(dir.toString, replaced, added))
    catch {
      case e: Throwable =>
        added.foreach(a => fs.delete(new Path(a.file), false))
        throw e
    }

  /** Land a rewrite verb's output: each staged file of `moves` is renamed
    * to its table path, replacing the `replaced` files of `base`. A
    * history table keeps the old files (past snapshots reference them)
    * and commits through [[commitRewrite]]; an eager table deletes them
    * first and drops their stats and bloom entries. Then the landed
    * files' stats and declared indexes are published
    * ([[GraftFileLog.liftLanded]] with the footer `schema`), and `staging`
    * removed. Returns the landed paths.
    */
  private def landRewrite(spark: SparkSession, fs: FileSystem,
                          table: GraftTable, base: RewriteBase,
                          replaced: Set[String], moves: Seq[(Path, Path)],
                          staging: Path)(
      schema: => org.apache.spark.sql.types.StructType): Seq[String] =
    try {
      val dir = new Path(table.dir)
      val landed = moves.map(_._2.toString)
      base.head match {
        case Some(head) =>
          moves.foreach { case (src, tgt) => fs.rename(src, tgt) }
          commitRewrite(fs, dir, head.entries.filter(e => replaced.contains(e.file)),
            landed.map(GraftTable.GraftEntry(_)))
        case None =>
          replaced.foreach(f => fs.delete(new Path(f), false))
          moves.foreach { case (src, tgt) => fs.rename(src, tgt) }
          if (replaced.nonEmpty) {
            val gone = replaced.map(f => new Path(f).getName)
            GraftFileLog.retain(fs, dir, n => !gone.contains(n))
          }
      }
      GraftFileLog.liftLanded(spark, table, landed, schema)
      landed
    } finally fs.delete(staging, true)

  /** Rewrite-path file reader: on tables with rename/widen/add history the
    * plain multi-file parquet read matches by NAME against one sampled
    * schema and silently drops or NULLs the other epochs' columns — this
    * resolves every current column per schema group (newest alias present,
    * cast to current physical types) so rewrites land uniform
    * current-schema files. No-alias tables take the unchanged fast path.
    */
  private def evoRead(spark: SparkSession, table: GraftTable,
                      files: Seq[String]): org.apache.spark.sql.DataFrame = {
    // row lineage: the hidden `_row_id` column is part of every data
    // file's shape — rewrites read and carry it (projecting it away would
    // silently erase lineage on compaction)
    val phys = table.ioSchema
    if (table.aliases.isEmpty &&
        !phys.fields.exists(GraftEvolution.hasExistenceDefault))
      spark.read.parquet(files: _*)
    else GraftEvolution.readFilesAs(spark, files, phys, table.aliases)
  }

  /** Maintenance rewrites go through Spark's parquet writer, which still
    * defaults timestamps to INT96 — while the catalog's own writer
    * (ParquetRowIO) and its stats-skipping predicates are TIMESTAMP_MICROS.
    * Pin micros for the duration of a rewrite so compacted files keep the
    * same physical types the scan's row-group/whole-file pruning expects.
    */
  private[sources] def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** In-place compaction of a graft-catalog table directory to
    * ~`targetBytes` files. Sizing reads only file metadata (one listing);
    * the rewrite is one shuffle to exactly the output count; the swap is
    * [[landRewrite]]'s (a history table's commit rebases over racing
    * appends and refuses racing rewrites). Pass `sortCols` to leave the
    * rewritten files range-clustered (min/max-prunable) instead of
    * round-robin. Returns (files before, files after).
    */
  def compactTable(spark: SparkSession, table: GraftTable,
                   targetBytes: Long = 128L << 20,
                   sortCols: Seq[String] = Nil,
                   zorderCols: Seq[String] = Nil): (Int, Int) = {
    require(targetBytes > 0)
    require(sortCols.isEmpty || zorderCols.isEmpty,
      "compactTable: pass sortCols (linear clustering) OR zorderCols " +
        "(multi-dim clustering), not both")
    val dir = new Path(table.dir)
    fence(table, "compactTable")
    val fs = fsOf(spark, table)
    require(table.partitionCols.isEmpty,
      "compactTable: partitioned tables need per-partition compaction " +
        "(a bulk rewrite would collapse the col=value directory layout); " +
        "compact one partition directory at a time")
    require(table.bucketSpec.isEmpty,
      "compactTable: bucketed tables need per-bucket compaction (a bulk " +
        "rewrite would mix buckets and break the bNNNNN- placement " +
        "contract); use compactBucketedTable")
    require(table.dayCol.isEmpty,
      "compactTable: days()-partitioned tables need per-day compaction (a " +
        "bulk rewrite would collapse the ts_day=N layout and silently kill " +
        "hidden-partition pruning); use compactDayTable")
    val base = foldedBase(spark, fs, table)
    val files = base.files
    if (files.isEmpty) return (0, 0)
    val totalBytes = files.map(f => fs.getFileStatus(new Path(f)).getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = evoRead(spark, table, files)
    // declared sort-on-write (`write.sort.cols`) is the table's layout
    // contract — an unparameterized compaction honors it instead of
    // round-robining the declaration away (explicit sortCols/zorderCols
    // still win: the caller is re-clustering deliberately)
    val sortCols0 =
      if (sortCols.isEmpty && zorderCols.isEmpty) table.sortCols
      else sortCols
    val shaped =
      if (zorderCols.nonEmpty)
        // multi-dimensional clustering: files become Morton-curve
        // segments, so a point/range predicate on EITHER dim stats-prunes
        // files (linear sortCols only prunes its leading column) — feeds
        // the whole-file skipping in GraftScan.planInputPartitions
        graft.operators.ZOrder.zorderBy(df,
          zorderCols.map(c => c -> org.apache.spark.sql.functions.col(c)),
          numPartitions = nOut)
      else if (sortCols0.nonEmpty)
        df.repartitionByRange(nOut, sortCols0.map(org.apache.spark.sql.functions.col): _*)
          .sortWithinPartitions(sortCols0.map(org.apache.spark.sql.functions.col): _*)
      else df.repartition(nOut)
    val staging = new Path(dir, s".compact-${UUID.randomUUID()}")
    withMicrosTimestamps(spark) {
      shaped.write.mode("overwrite").parquet(staging.toString)
    }
    val staged = fs.listStatus(staging).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    landRewrite(spark, fs, table, base, files.toSet,
      staged.map(p => p -> new Path(dir, p.getName)), staging)(df.schema)
    (files.size, staged.size)
  }

  /** Bucket-preserving compaction for bucketed catalog tables: each
    * bucket's files are rewritten to ONE file carrying the same `bNNNNN-`
    * name prefix, so the storage-partitioned-join placement contract
    * survives the rewrite (rows never change buckets — compaction only
    * merges a bucket with itself). Buckets already at one file are
    * untouched. Returns (files before, files after).
    */
  def compactBucketedTable(spark: SparkSession, table: GraftTable): (Int, Int) = {
    val dir = new Path(table.dir)
    val bucketCol = table.bucketSpec.map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"compactBucketedTable: ${table.dir} is not a bucketed table"))
    fence(table, "compactBucketedTable")
    val fs = fsOf(spark, table)
    val base = foldedBase(spark, fs, table)
    val files = base.files
    if (files.isEmpty) return (0, 0)
    val byBucket = files.groupBy { f =>
      val n = new Path(f).getName
      GraftBucket.fileBucketId(n).getOrElse(throw new IllegalStateException(
        s"bucketed table file $n lacks the bNNNNN- prefix"))
    }
    val staging = new Path(dir, s".compact-${UUID.randomUUID()}")
    val rewritten = byBucket.toSeq.sortBy(_._1).filter(_._2.size > 1)
    // keep the per-file key sort the catalog writer guarantees — the scan
    // reports ordering on one-file-per-bucket layouts, so an unsorted
    // compacted file would silently break merge joins. Declared
    // sort-on-write columns append after the bucket key, exactly like the
    // writer's required ordering (GraftSort)
    val unitSort = bucketCol +: table.sortCols.filterNot(_ == bucketCol)
    val moves = rewritten.map { case (b, fls) =>
      val out = new Path(staging, s"b$b")
      withMicrosTimestamps(spark) {
        evoRead(spark, table, fls).coalesce(1)
          .sortWithinPartitions(unitSort.map(org.apache.spark.sql.functions.col): _*)
          .write.mode("overwrite").parquet(out.toString)
      }
      val part = fs.listStatus(out).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath) match {
        case Seq(one) => one
        case many => throw new IllegalStateException(
          s"bucket $b compaction produced ${many.size} files")
      }
      val tgt = new Path(dir, GraftBucket.fileName(b,
        s"part-compact-${UUID.randomUUID()}.parquet"))
      (part, tgt)
    }
    val replaced = rewritten.flatMap(_._2).toSet
    landRewrite(spark, fs, table, base, replaced, moves, staging)(
      spark.read.parquet(moves.head._2.toString).schema)
    (files.size, files.size - replaced.size + moves.size)
  }

  /** Day-preserving compaction for `days(col)`-partitioned tables: each
    * day directory's files are rewritten to ONE file IN PLACE (sorted by
    * the raw time column, so range predicates within the day stats-prune
    * row groups), keeping the hidden-partition layout — and its pruning —
    * intact. Days already at one file are untouched. The streaming-ingest
    * companion verb: micro-batches leave one small file per day per
    * batch; this folds each day back to one. Returns (before, after).
    */
  def compactDayTable(spark: SparkSession, table: GraftTable): (Int, Int) = {
    val dir = new Path(table.dir)
    val dayCol = table.dayCol.getOrElse(
      throw new IllegalArgumentException(
        s"compactDayTable: ${table.dir} is not a time-partitioned table"))
    fence(table, "compactDayTable")
    val fs = fsOf(spark, table)
    val unit = table.timeUnit
    val unitSeg = GraftDayPartition.Units(unit)
    val base = foldedBase(spark, fs, table)
    val files = base.files
    if (files.isEmpty) return (0, 0)
    val byDay = files.groupBy(f => new Path(f).getParent.getName)
      .filter(_._1.startsWith(s"${dayCol}_$unitSeg=")) // pre-layout flat files stay
    val rewritten = byDay.toSeq.sortBy(_._1).filter(_._2.size > 1)
    // every day already at one file: nothing to stage, nothing to commit
    // (a history table gains no version)
    if (rewritten.isEmpty) return (files.size, files.size)
    val staging = new Path(dir, s".compact-${UUID.randomUUID()}")
    // ONE distributed job for every multi-file day — not a job per day
    // (30 days ≙ 30 driver round-trips; 10k day-partitions at the 100 TB
    // tier ≙ a wall-clock cliff): each row re-derives its unit index with
    // the same TZ-independent arithmetic the writer routed it by (a row
    // in ts_day=N has unit(ts)=N by construction), repartition-by-unit
    // gives one task per day, sortWithinPartitions keeps the in-file
    // time order, partitionBy lands exactly one file per day dir.
    val landed: Seq[(Path, Path)] = {
      val dt = table.schema()(dayCol).dataType
      withMicrosTimestamps(spark) {
        evoRead(spark, table, rewritten.flatMap(_._2))
          .withColumn("__graft_unit",
            org.apache.spark.sql.functions.expr(unitIndexExpr(unit, dt, dayCol)))
          .repartition(org.apache.spark.sql.functions.col("__graft_unit"))
          // in-file time order first, declared sort-on-write columns after
          // (the writer's required ordering, preserved by maintenance)
          .sortWithinPartitions((dayCol +: table.sortCols.filterNot(_ == dayCol))
            .map(org.apache.spark.sql.functions.col): _*)
          .write.partitionBy("__graft_unit").mode("overwrite")
          .parquet(staging.toString)
      }
      val segs = fs.listStatus(staging).toSeq.filter(_.isDirectory)
      segs.map { seg =>
        val raw = seg.getPath.getName.stripPrefix("__graft_unit=")
        val daySeg = GraftDayPartition.dirName(dayCol, unit,
          if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw.toLong))
        val part = fs.listStatus(seg.getPath).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(_.getPath) match {
          case Seq(one) => one
          case many => throw new IllegalStateException(
            s"day $daySeg compaction produced ${many.size} files")
        }
        val tgt = new Path(new Path(dir, daySeg),
          s"part-compact-${UUID.randomUUID()}.parquet")
        (part, tgt)
      }
    }
    require(landed.size == rewritten.size,
      s"compactDayTable: ${rewritten.size} multi-file days in, " +
        s"${landed.size} compacted days out — a row re-derived a unit " +
        "its directory didn't claim")
    val replaced = rewritten.flatMap(_._2).toSet
    landRewrite(spark, fs, table, base, replaced, landed, staging)(
      spark.read.parquet(landed.head._2.toString).schema)
    (files.size, files.size - replaced.size + landed.size)
  }

  /** OPTIMIZE — census-driven SELECTIVE compaction for identity-
    * partitioned tables (the layout [[compactTable]] rightly refuses to
    * bulk-rewrite): only partitions holding >= `minFiles` files are
    * touched, each folded to ONE file, everything else — files, layout,
    * history — untouched. This is Delta's OPTIMIZE shape: streaming/
    * trickle ingest fragments a few hot partitions all day; the fix must
    * cost O(debris), not O(table).
    *
    * One distributed job regardless of how many partitions qualify
    * (the compactDayTable argument): each selected file's rows are routed
    * by a broadcast (file name → partition subpath) lookup — file names
    * are uuid-unique, and identity-partition values live in the PATH, not
    * the rows, so the lookup IS the partition recovery — then
    * repartition-by-subpath + partitionBy lands exactly one file per
    * selected partition dir. Declared `write.sort.cols` ordering is
    * preserved inside the rewritten files; MOR deletion vectors and
    * equality masks are folded first (the rewrite reads plain parquet);
    * stats for the new files are footer-lifted in one job so pruning
    * serves from metadata on the next scan. History tables commit ONE
    * kind=compact manifest (old snapshots keep their files); plain tables
    * swap files and retire the replaced stats/bloom entries.
    *
    * Returns the census of what was done: (partition, files_before,
    * files_after) per compacted partition — empty means nothing qualified.
    */
  def optimizeTable(spark: SparkSession, table: GraftTable,
                    minFiles: Int = 2): Seq[(String, Int, Int)] = {
    require(minFiles >= 2, s"optimizeTable: minFiles must be >= 2")
    val dir = new Path(table.dir)
    require(table.partitionCols.nonEmpty && table.dayCol.isEmpty &&
        table.bucketSpec.isEmpty,
      "optimizeTable: identity-partitioned tables only — flat tables use " +
        "compactTable, days() layouts compactDayTable, bucketed tables " +
        "compactBucketedTable")
    fence(table, "graft_optimize")
    val fs = fsOf(spark, table)
    val base = foldedBase(spark, fs, table)
    val files = base.files
    if (files.isEmpty) return Nil
    // a SHALLOW CLONE's entries are absolute paths into the SOURCE —
    // rewriting them here would land part-optimize files inside the
    // source's partition dirs, where the source's own orphan cleanup
    // later deletes them (silent clone data loss); refuse loudly
    files.find(f => GraftTable.relativize(dir, new Path(f)).startsWith("/"))
      .foreach(f => throw new IllegalArgumentException(
        s"optimizeTable: ${table.dir} references foreign files (e.g. $f) — " +
          "a shallow clone cannot be compacted in place; " +
          "graft_clone(..., 'deep') first"))
    val byPart = files
      .groupBy(f => GraftTable.relativize(dir, new Path(f).getParent))
      .filter(_._1.contains("=")) // pre-layout flat debris stays
    val selected = byPart.filter(_._2.size >= minFiles)
    if (selected.isEmpty) return Nil
    val selFiles = selected.values.flatten.toSeq
    val lookup = selected.toSeq.flatMap { case (p, fl) =>
      fl.map(f => (new Path(f).getName, p))
    }
    val staging = new Path(dir, s".optimize-${UUID.randomUUID()}")
    val routed = {
      import spark.implicits._
      val lk = lookup.toDF("__fn", "__graft_part")
      evoRead(spark, table, selFiles)
        .withColumn("__fn",
          org.apache.spark.sql.functions.col("_metadata.file_name"))
        .join(org.apache.spark.sql.functions.broadcast(lk), "__fn")
        .drop("__fn")
    }
    val sortCols = table.sortCols
    withMicrosTimestamps(spark) {
      val shaped = routed.repartition(
        org.apache.spark.sql.functions.col("__graft_part"))
      (if (sortCols.nonEmpty)
        shaped.sortWithinPartitions(
          sortCols.map(org.apache.spark.sql.functions.col): _*)
      else shaped)
        .write.partitionBy("__graft_part").mode("overwrite")
        .parquet(staging.toString)
    }
    val landed: Seq[(Path, Path)] = fs.listStatus(staging).toSeq
      .filter(_.isDirectory).map { seg =>
        val sub = GraftTable.unescapeSeg(
          seg.getPath.getName.stripPrefix("__graft_part="))
        val part = fs.listStatus(seg.getPath).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(_.getPath) match {
          case Seq(one) => one
          case many => throw new IllegalStateException(
            s"optimize of $sub produced ${many.size} files")
        }
        (part, new Path(new Path(dir, sub),
          s"part-optimize-${UUID.randomUUID()}.parquet"))
      }
    require(landed.size == selected.size,
      s"optimizeTable: ${selected.size} partitions in, ${landed.size} " +
        "out — a row routed to a partition its file didn't claim")
    landRewrite(spark, fs, table, base, selFiles.toSet, landed, staging)(
      spark.read.parquet(landed.head._2.toString).schema)
    selected.toSeq.sortBy(_._1).map { case (p, fl) => (p, fl.size, 1) }
  }

  /** Fold merge-on-read deletion vectors into their data files: each file
    * with a sidecar is rewritten without its deleted positions and the
    * sidecar removed — after this the directory is again directly readable
    * as plain parquet. ONE distributed job rewrites every DV'd file: the
    * SERIALIZED bitmaps ride a broadcast join keyed by file name (a few KB
    * per file — never a driver-side expansion to a position list, which at
    * a 10⁸-position DV would box 10⁸ Longs on the driver), and each task
    * filters with the native codegen'd `bitmap_contains(dv,
    * _metadata.row_index)` probe against a per-executor bitmap cache.
    * `partitionBy` on the source file name preserves file boundaries, so
    * each rewritten file keeps its original name (external references stay
    * valid); files without sidecars are untouched. This is the
    * read-amplification dial of the MOR trade: run it when a file's DV
    * density crosses the point where bitmap probes cost more than one
    * rewrite (Delta's OPTIMIZE / Iceberg's rewrite_position_deletes).
    * Returns the number of sidecars folded.
    */
  def materializeDeletes(spark: SparkSession, table: GraftTable): Int = {
    val dir = new Path(table.dir)
    fence(table, "materializeDeletes")
    val fs = fsOf(spark, table)
    if (table.history) return materializeDeletesHistory(spark, fs, table)
    val dvs = fs.listStatus(dir).toSeq
      .filter(st => st.isFile && GraftDv.isDv(st.getPath.getName))
    // data files may live in partition subdirs; sidecars sit at the root
    // keyed by (uuid-unique) file name
    val byName = GraftTable.dataFiles(fs, dir)
      .map(f => new Path(f).getName -> new Path(f)).toMap
    // orphan sidecars (data file already gone) are just removed below
    val pairs: Seq[(Path, Path)] = dvs.flatMap { st =>
      byName.get(GraftDv.dataFileName(st.getPath.getName)).map(_ -> st.getPath)
    }
    if (pairs.nonEmpty) {
      val staging = stageDvRewrites(spark, fs, table, pairs)
      val landed = scala.collection.mutable.Buffer.empty[String]
      val vanished = scala.collection.mutable.Buffer.empty[String]
      pairs.foreach { case (dataPath, _) =>
        val dataName = dataPath.getName
        val staged = stagedPartsFor(fs, staging, dataName)
        fs.delete(dataPath, false)
        // keep the original name for the first staged part so external
        // references stay valid; extra parts (rare: a huge file split by
        // maxPartitionBytes) land under fresh names; a fully-deleted file
        // simply disappears
        if (staged.isEmpty) vanished += dataName
        staged.zipWithIndex.foreach { case (p, i) =>
          val tgt = if (i == 0) dataPath
            else new Path(dataPath.getParent,
              s"${dataName.stripSuffix(".parquet")}-m$i.parquet")
          fs.rename(p, tgt)
          landed += tgt.toString
        }
      }
      fs.delete(staging, true)
      // folded files keep their names — re-lift from the fresh footers so
      // the stale (sound but loose) pre-fold entries are superseded;
      // fully-deleted files take their stats with them
      if (vanished.nonEmpty) {
        val gone = vanished.toSet
        GraftFileLog.retain(fs, dir, n => !gone.contains(n))
      }
      GraftFileLog.liftLanded(spark, table, landed.toSeq,
        spark.read.parquet(landed.head).schema)
    }
    dvs.foreach(st => fs.delete(st.getPath, false))
    dvs.size
  }

  /** History-table variant: referenced data files and sidecars are
    * IMMUTABLE (past snapshots point at them), so the rewritten files
    * land under fresh names and a new manifest re-points the DV'd
    * entries — kind-marked `compact` (the fold is row-multiset neutral:
    * visible rows are identical before and after), so streams skip it.
    * Old files and superseded sidecars stay until vacuum expires them.
    */
  private def materializeDeletesHistory(spark: SparkSession, fs: FileSystem,
                                        table: GraftTable): Int = {
    val dir = new Path(table.dir)
    val head = GraftTable.readHead(fs, dir, None)
    if (head.version == 0L)
      throw new IllegalStateException(s"$dir: history table has no manifest")
    val folded = head.entries.filter(_.dv.nonEmpty)
    if (folded.isEmpty) return 0
    val pairs = folded.map(e => (new Path(e.file), new Path(e.dv.get)))
    val staging = stageDvRewrites(spark, fs, table, pairs)
    val rewrittenByName: Map[String, Seq[String]] = pairs.map { case (dataPath, _) =>
      val dataName = dataPath.getName
      val landed = stagedPartsFor(fs, staging, dataName).zipWithIndex.map {
        case (p, i) =>
          // land NEXT TO the original (day/partition subdirs survive);
          // the -dvm suffix keeps any bNNNNN- bucket prefix intact
          val tgt = new Path(dataPath.getParent,
            s"${dataName.stripSuffix(".parquet")}-dvm$i-" +
              s"${UUID.randomUUID().toString.take(8)}.parquet")
          fs.rename(p, tgt)
          tgt.toString
      }
      dataName -> landed
    }.toMap
    fs.delete(staging, true)
    // the fold applied only the POSITIONAL mask — equality masks carry
    // over to the rewritten pieces untouched
    commitRewrite(fs, dir, folded, folded.flatMap(e =>
      rewrittenByName(new Path(e.file).getName)
        .map(f => GraftTable.GraftEntry(f, None, e.eqs))))
    val allLanded = rewrittenByName.values.flatten.toSeq
    GraftFileLog.liftLanded(spark, table, allLanded,
      spark.read.parquet(allLanded.head).schema)
    pairs.size
  }

  /** ONE distributed job shared by both variants: read every DV'd file,
    * drop deleted positions via a broadcast of the SERIALIZED bitmaps and
    * the codegen'd `bitmap_contains(dv, _metadata.row_index)` probe
    * (never a driver-side position expansion), and stage the survivors
    * partitioned by source-file name so file boundaries survive.
    */
  private def stageDvRewrites(spark: SparkSession, fs: FileSystem,
                              table: GraftTable,
                              pairs: Seq[(Path, Path)]): Path = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import scala.jdk.CollectionConverters._
    val dvSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(DvNameCol,
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("__graft_dv",
        org.apache.spark.sql.types.BinaryType, nullable = false)))
    val dvDf = spark.createDataFrame(
      pairs.map { case (data, dv) =>
        val bytes = {
          val in = fs.open(dv)
          val bos = new java.io.ByteArrayOutputStream()
          try org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 64 << 10)
          finally in.close()
          bos.toByteArray
        }
        org.apache.spark.sql.Row(data.getName, bytes)
      }.asJava, dvSchema)
    val alive = org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.Not(
        graft.expressions.BitmapContains(
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("__graft_dv"),
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("__graft_pos"))))
    // rename/widen history: resolve each schema epoch's files separately
    // (alias → current name, cast to current types) so the fold reads
    // pre-rename files correctly — the metadata columns ride along inside
    // each group's projection, BEFORE the union erases them
    val aliases = table.aliases
    val dataPaths = pairs.map(_._1.toString)
    val grouped: Seq[org.apache.spark.sql.DataFrame] =
      if (aliases.isEmpty) Seq(spark.read.parquet(dataPaths: _*)
        .withColumn(DvNameCol, col("_metadata.file_name"))
        .withColumn("__graft_pos", col("_metadata.row_index")))
      else {
        val phys = table.ioSchema
        dataPaths.map(f => f -> spark.read.parquet(f).schema.fieldNames.toSet)
          .groupBy(_._2).values.map(_.map(_._1)).toSeq
          .map { group =>
            val df = spark.read.parquet(group: _*)
              .withColumn(DvNameCol, col("_metadata.file_name"))
              .withColumn("__graft_pos", col("_metadata.row_index"))
            val have = df.columns.toSet
            df.select(phys.fields.toSeq.map { fld =>
              val src =
                if (have.contains(fld.name)) Some(fld.name)
                else aliases.get(fld.name)
                  .flatMap(_.reverseIterator.find(have.contains))
              src.map(n => col(n).cast(fld.dataType).as(fld.name))
                .getOrElse(org.apache.spark.sql.functions.lit(null)
                  .cast(fld.dataType).as(fld.name))
            } ++ Seq(col(DvNameCol), col("__graft_pos")): _*)
          }
      }
    val kept = grouped.reduce(_.union(_))
      .join(broadcast(dvDf), Seq(DvNameCol))
      .where(alive)
      .drop("__graft_dv", "__graft_pos")
    val staging = new Path(table.dir, s".dv-materialize-${UUID.randomUUID()}")
    withMicrosTimestamps(spark) {
      kept.write.partitionBy(DvNameCol).mode("overwrite")
        .parquet(staging.toString)
    }
    staging
  }

  private val DvNameCol = "__graft_dv_name"

  /** Survivor parts of one source file after [[stageDvRewrites]] — empty
    * when every row of the file was deleted.
    */
  private def stagedPartsFor(fs: org.apache.hadoop.fs.FileSystem,
                             staging: Path, dataName: String): Seq[Path] = {
    val stagedDir = new Path(staging,
      s"$DvNameCol=${GraftTable.escapeSeg(dataName)}")
    if (!fs.exists(stagedDir)) Nil
    else fs.listStatus(stagedDir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
  }

  /** Roll a history table back to snapshot `version` by committing a NEW
    * manifest whose file list equals that snapshot's (Delta RESTORE /
    * Iceberg rollback semantics): the rollback is itself a commit, so the
    * mistaken versions stay queryable for audit and vacuum's retention
    * dial still governs when their files actually go away. Rewriting zero
    * data makes restore O(manifest) — at 100 TB that is the difference
    * between an instant rollback and re-copying the table. Returns the new
    * version. Fails loudly on non-history tables (nothing to restore from)
    * and unknown versions.
    */
  def restore(spark: SparkSession, table: GraftTable, version: Long): Long = {
    val dir = new Path(table.dir)
    require(table.history, s"restore: ${table.dir} is not a history table")
    fence(table, "restore")
    val fs = fsOf(spark, table)
    val versions = GraftTable.manifestVersions(fs, dir)
    require(versions.contains(version),
      s"restore: version $version not in ${versions.mkString("[", ",", "]")}" +
        " (vacuumed or never committed)")
    // restore the ENTRIES (files + their deletion-vector state), so a
    // merge-on-read table rolls back its delete state too
    GraftTable.commitRetrying(fs, dir,
        meta = GraftTable.kindMeta(GraftTable.KindRestore))(
      GraftTable.pinnedAt(table.dir, versions.last)(
        GraftTable.readFullEntries(fs, dir, version)))
  }

  /** Expire old snapshots of a history table: keep the last `keepLast`
    * manifests, delete older manifests and every data file no kept
    * snapshot references. Returns (manifests removed, data files removed).
    * The retention/cost dial every snapshot table needs — without it,
    * copy-on-write history grows without bound.
    */
  def vacuum(spark: SparkSession, table: GraftTable, keepLast: Int = 1): (Int, Int) = {
    require(keepLast >= 1)
    vacuumKeeping(spark, table, (_, _, versions) => versions.takeRight(keepLast).toSet)
  }

  /** Apply the table's DECLARED retention policy ([[GraftRetention]]):
    * `retention.keep-last` is a floor (keep at least the N newest
    * snapshots) and `retention.max-age-ms` keeps everything younger —
    * a snapshot expires only when BOTH policies allow it. The current
    * snapshot, tags and branch pins survive regardless (vacuumKeeping's
    * contract). Refuses loudly when the table declares nothing: an
    * undeclared expiry should be an explicit `graft_vacuum`, not a
    * default silently eating history.
    */
  def applyRetention(spark: SparkSession, table: GraftTable): (Int, Int) = {
    val (keepLast, maxAge) = GraftRetention.of(table.retention)
    require(keepLast.nonEmpty || maxAge.nonEmpty,
      s"applyRetention: ${table.dir} declares no retention policy — SET " +
        s"TBLPROPERTIES('${GraftRetention.KeepLastProp}'=N) and/or " +
        s"('${GraftRetention.MaxAgeProp}'=ms), or call graft_vacuum " +
        "explicitly")
    val cutoff = maxAge.map(System.currentTimeMillis() - _)
    vacuumKeeping(spark, table, (fs, dir, versions) => {
      val byCount = keepLast.map(n => versions.takeRight(n).toSet)
        .getOrElse(Set.empty[Long])
      byCount ++ cutoff.map(youngerThan(fs, dir, versions, _))
        .getOrElse(versions.lastOption.toSet)
    })
  }

  /** The versions committed at or after `cutoffMillis`, plus the current
    * one whatever its age.
    */
  private def youngerThan(fs: FileSystem, dir: Path, versions: Seq[Long],
                          cutoffMillis: Long): Set[Long] =
    versions.filter { v =>
      fs.exists(GraftTable.manifestPath(dir, v)) &&
        GraftTable.commitTimeMillis(fs, dir, v) >= cutoffMillis
    }.toSet ++ versions.lastOption

  /** Time-based retention (`expire_snapshots(older_than)` / `VACUUM ...
    * RETAIN n HOURS`): expire every snapshot whose commit time is before
    * `olderThanMillis` (epoch millis). The CURRENT snapshot always
    * survives, whatever its age — retention trims history, never the
    * table. Tagged and branch-pinned snapshots are retention-proof, as
    * with count-based vacuum.
    */
  def vacuumOlderThan(spark: SparkSession, table: GraftTable,
                      olderThanMillis: Long): (Int, Int) =
    vacuumKeeping(spark, table, youngerThan(_, _, _, olderThanMillis))

  private def vacuumKeeping(spark: SparkSession, table: GraftTable,
                            keepOf: (FileSystem, Path, Seq[Long]) => Set[Long])
      : (Int, Int) = {
    val dir = new Path(table.dir)
    require(table.history, s"vacuum: ${table.dir} is not a history table")
    // deletion is the most dangerous verb to run against a format from
    // the future: files this build can't recognize as referenced (a new
    // sidecar kind) would be reaped as orphans
    fence(table, "vacuum")
    val fs = fsOf(spark, table)
    val versions = GraftTable.manifestVersions(fs, dir)
    // TAGGED snapshots are retention-proof: a named ref means "keep this
    // state addressable" — its manifest and files survive any keepLast
    // window until the tag is dropped
    val tagged = GraftRefs.readAll(fs, dir).values.toSet
    // live BRANCHES pin their fork-point manifest (their pre-first-commit
    // head) and everything their own manifests reference — expiring
    // either would tear the branch
    val branchBases = GraftBranch.readAll(fs, dir).values.toSet
    val (branchFiles, branchSegs) = GraftBranch.referencedByBranches(fs, dir)
    val keep = keepOf(fs, dir, versions) ++ tagged ++ branchBases
    val expire = versions.filterNot(keep.contains)
    if (expire.isEmpty) return (0, 0)
    val keptEntries = versions.filter(keep.contains)
      .flatMap(GraftTable.readFullEntries(fs, dir, _))
    val referenced =
      keptEntries.map(e => new Path(e.file).getName).toSet ++ branchFiles
    val orphans = GraftTable.dataFiles(fs, dir)
      .filterNot(f => referenced.contains(new Path(f).getName))
    orphans.foreach(f => fs.delete(new Path(f), false))
    // deletion-vector and equality-delete sidecars are versioned like
    // data files: expire every sidecar no kept snapshot points at
    val referencedDv = keptEntries.flatMap(_.dv).map(new Path(_).getName).toSet ++
      branchFiles
    val referencedEq = keptEntries.flatMap(_.eqs).map(new Path(_).getName).toSet ++
      branchFiles
    val dvOrphans = fs.listStatus(dir).toSeq
      .filter(st => st.isFile &&
        ((GraftDv.isDv(st.getPath.getName) &&
          !referencedDv.contains(st.getPath.getName)) ||
         (GraftEqDelete.isEq(st.getPath.getName) &&
          !referencedEq.contains(st.getPath.getName))))
      .map(_.getPath)
    dvOrphans.foreach(fs.delete(_, false))
    expire.foreach(v => fs.delete(GraftTable.manifestPath(dir, v), false))
    // manifest segments are immutable and shared across versions: delete
    // the ones no retained version references (AFTER the expired version
    // files are gone, so a crash between the two deletes leaves only
    // unreferenced-but-present segments — never a dangling reference)
    val referencedSegs = versions.filter(keep.contains)
      .flatMap(GraftTable.segmentRefs(fs, dir, _)).toSet ++ branchSegs
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile &&
        st.getPath.getName.startsWith(GraftTable.SegmentPrefix) &&
        !referencedSegs.contains(st.getPath.getName))
      .foreach(st => fs.delete(st.getPath, false))
    // expired files take their statistics with them (min/max hold real
    // data values — PURGE's erasure guarantee extends to the stats log)
    if (orphans.nonEmpty) {
      val gone = orphans.map(f => new Path(f).getName).toSet
      GraftFileLog.retain(fs, dir, n => !gone.contains(n))
    }
    (expire.size, orphans.size + dvOrphans.size)
  }

  /** PURGE: the right-to-erasure verb. A plain `DELETE` hides rows from
    * the CURRENT snapshot but the bytes survive — in past snapshots of a
    * history table (time travel would resurrect them) or in deletion-
    * vector-masked files of a merge-on-read table. Purge composes the
    * verbs that actually destroy them: DELETE matching rows, fold DVs
    * into rewritten files (merge-on-read), then expire every old
    * snapshot so no manifest references the pre-delete files and their
    * bytes are removed (history). Returns the number of rows erased.
    *
    * The guarantee is checkable from the outside: after purge, no parquet
    * file under the table directory contains a matching row —
    * [[purgedCompletely]] proves it by brute-force re-reading every
    * remaining byte, and the spec/oracle entries run that proof.
    */
  def purge(spark: SparkSession, catalog: String, table: GraftTable,
            condition: String): Long = {
    val name = s"$catalog.${table.name()}"
    val dir = new Path(table.dir)
    val fs = fsOf(spark, table)
    // snapshot tags make snapshots vacuum-proof — a purge would silently
    // leave the matching rows reachable through them. Fail LOUDLY rather
    // than either breaking the erasure guarantee or dropping user tags.
    val refs = GraftRefs.readAll(fs, dir)
    require(refs.isEmpty,
      s"purge: $name has snapshot tags (${refs.keys.toSeq.sorted.mkString(", ")}) " +
        "that would keep pre-purge snapshots alive — drop them first " +
        "(graft_drop_tag), then purge")
    val branches = GraftBranch.readAll(fs, dir)
    require(branches.isEmpty,
      s"purge: $name has live branches " +
        s"(${branches.keys.toSeq.sorted.mkString(", ")}) whose snapshots " +
        "would keep purged bytes reachable — fast-forward or drop them " +
        "first (graft_drop_branch), then purge")
    val n = spark.table(name).where(condition).count()
    spark.sql(s"DELETE FROM $name WHERE $condition")
    if (table.mor) materializeDeletes(spark, table)
    if (table.history) {
      // equality-delete sidecars hold raw KEY BYTES (possibly the very
      // values being purged): fold the masks so no live entry references
      // them, then vacuum destroys the sidecars with the old snapshots
      if (GraftTable.readHead(fs, dir, None).entries.exists(_.eqs.nonEmpty))
        GraftEqDelete.materializeEqDeletes(spark, table)
      vacuum(spark, table, keepLast = 1)
    }
    n
  }

  /** TRUE iff no parquet file under the table dir holds a row matching
    * `condition` — the externally-checkable erasure proof (reads raw
    * files, NOT the catalog, so deletion vectors can't mask anything).
    */
  def purgedCompletely(spark: SparkSession, table: GraftTable,
                       condition: String): Boolean = {
    val files = GraftTable.dataFiles(fsOf(spark, table), new Path(table.dir))
    files.isEmpty || evoRead(spark, table, files).where(condition).isEmpty
  }

  /** Remove ORPHAN files from a history table directory: parquet files and
    * DV sidecars on disk that NO manifest references — the debris of
    * crashed commits (landed after rename, manifest never written) and
    * foreign copy-ins. Only files older than `graceMillis` go (a racing
    * commit's just-landed files are younger than any sane grace window —
    * Iceberg's remove_orphan_files ships the same dial, default 3 days).
    * Staging dot-dirs are never entered. Returns the number removed.
    */
  def removeOrphans(spark: SparkSession, table: GraftTable,
                    graceMillis: Long = 3L * 24 * 3600 * 1000): Int = {
    val dir = new Path(table.dir)
    val fs = fsOf(spark, table)
    require(table.history,
      s"removeOrphans: ${table.dir} is not a history table — a plain table " +
        "IS its directory listing, every file on disk is referenced")
    val referenced: Set[String] = GraftTable.manifestVersions(fs, dir)
      .flatMap(GraftTable.readEntries(fs, dir, _))
      .flatMap { case (f, dv) => Seq(new Path(f).getName) ++
        dv.map(d => new Path(d).getName) }.toSet ++
      GraftBranch.referencedByBranches(fs, dir)._1
    val cutoff = System.currentTimeMillis() - graceMillis
    def candidates(d: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(d).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) candidates(st.getPath)
        else if (st.isFile &&
          (n.endsWith(".parquet") || GraftDv.isDv(n))) Seq(st)
        else Nil
      }
    val orphans = candidates(dir).filter(st =>
      !referenced.contains(st.getPath.getName) &&
        st.getModificationTime <= cutoff)
    orphans.foreach(st => fs.delete(st.getPath, false))
    if (orphans.nonEmpty) {
      val gone = orphans.map(_.getPath.getName).toSet
      GraftFileLog.retain(fs, dir, n => !gone.contains(n))
    }
    orphans.size
  }

  /** SNAPSHOT INTEGRITY AUDIT — the trust-but-verify verb run before
    * promoting a table, after a migration, or on an incident: does the
    * CURRENT snapshot's metadata actually describe the bytes on disk?
    * Returns findings (file, problem, expected, actual); empty = clean.
    *
    * Metadata mode checks every live manifest reference — data file
    * exists, recorded stats size matches the FS length (a truncated or
    * clobbered file surfaces here), DV sidecars and eq-delete files
    * exist — with O(files) driver `getFileStatus` calls and ZERO data IO.
    * `deep` adds ONE distributed footer-read job comparing each file's
    * parquet row count against the stats log (catches a same-size byte
    * swap or a stats-log lie the scan planner would silently trust).
    *
    * Read-only by design: the audit REPORTS; repair stays with the verbs
    * that own each artifact (restore/backfill/retain) — an audit that
    * mutates is one bug away from being the incident.
    */
  def verifySnapshot(spark: SparkSession, table: GraftTable,
                     deep: Boolean = false): Seq[(String, String, Long, Long)] = {
    val dir = new Path(table.dir)
    val fs = fsOf(spark, table)
    val entries = table.currentFullEntries(fs)
    val stats = GraftFileLog.stats(fs, dir)
    val findings = scala.collection.mutable.ArrayBuffer[(String, String, Long, Long)]()
    entries.foreach { e =>
      val p = new Path(e.file)
      val st =
        try Some(fs.getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => None }
      st match {
        case None =>
          findings += ((p.getName, "missing_data_file", 1L, 0L))
        case Some(s) =>
          stats.get(p.getName).foreach { rec =>
            if (rec.size != s.getLen)
              findings += ((p.getName, "size_mismatch", rec.size, s.getLen))
          }
      }
      e.dv.foreach { d =>
        if (!fs.exists(new Path(d)))
          findings += ((new Path(d).getName, "missing_dv_sidecar", 1L, 0L))
      }
      e.eqs.foreach { q =>
        if (!fs.exists(new Path(q)))
          findings += ((new Path(q).getName, "missing_eq_delete", 1L, 0L))
      }
    }
    if (deep) {
      val missing = findings.map(_._1).toSet
      val targets = entries.map(_.file).filter { f =>
        val n = new Path(f).getName
        stats.contains(n) && !missing.contains(n)
      }
      if (targets.nonEmpty) {
        val rowsByName = stats.map { case (n, s) => n -> s.rows }
        val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
        findings ++= spark.sparkContext
          .parallelize(targets, parallelism(spark, targets.size))
          .flatMap { f =>
            val p = new Path(f)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf.value))
            val actual =
              try {
                import scala.jdk.CollectionConverters._
                r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
              } finally r.close()
            val expected = rowsByName(p.getName)
            if (actual != expected)
              Seq((p.getName, "row_count_mismatch", expected, actual))
            else Nil
          }
          .collect()
      }
    }
    findings.toSeq.sortBy(f => (f._1, f._2))
  }

  /** Backfill manifest-lifted stats for current data files that have no
    * entry (tables written before the stats log existed, or files landed
    * by foreign tools): ONE distributed footer-read job appends their
    * stats — the ANALYZE TABLE verb. Returns the number of files lifted.
    */
  def analyzeTable(spark: SparkSession, table: GraftTable): Int = {
    val dir = new Path(table.dir)
    val fs = fsOf(spark, table)
    val files = table.currentDataFiles(fs)
    val have = GraftFileLog.stats(fs, dir).keySet
    val missing = files.filterNot(f => have.contains(new Path(f).getName))
    if (missing.nonEmpty) {
      val (stats, _) = GraftFileLog.describe(spark, table, missing,
        Some(spark.read.parquet(missing.head).schema), Nil, Nil)
      GraftFileLog.publish(fs, dir, stats, Nil)
    }
    missing.size
  }

  /** PARTITION EVOLUTION (time specs): change a table's hidden time
    * partitioning as a METADATA-ONLY commit — `spec = Some((col, unit))`
    * installs `unit(col)`, `None` drops time partitioning. No data file
    * moves: files written under former specs keep their directory
    * segments and stay prunable through the past-spec list
    * (GraftDayPartition.survivesSpecs); files that predate every spec are
    * never pruned. New writes route through the NEW layout immediately.
    * At 100 TB this is Iceberg's marquee DDL: re-partitioning the fact
    * table without rewriting a byte, with [[migrateTimeLayout]] as the
    * optional catch-up rewrite.
    *
    * Guards (all loud): identity/bucket layouts own the directory
    * namespace (no composition); the column must exist with a supported
    * type; every spec this table has ever had must use the SAME column
    * (segments are resolved by column name — mixing columns would make a
    * file's spec ambiguous... and no real fact table time-partitions by
    * two different clocks).
    */
  def setTimePartition(spark: SparkSession, table: GraftTable,
                       spec: Option[(String, String)]): Unit = {
    val props = table.props
    require(table.partitionCols.isEmpty && table.bucketSpec.isEmpty,
      "setTimePartition: identity-partitioned and bucketed tables own " +
        "their directory/file-name layout — time partitioning does not " +
        "compose with them")
    val current = table.dayCol.map(_ -> table.timeUnit)
    val past = table.pastTimeSpecs
    spec.foreach { case (col, unit) =>
      require(GraftDayPartition.Units.contains(unit),
        s"setTimePartition: unknown unit $unit (hours/days/months)")
      val f = table.schema().fields.find(_.name == col).getOrElse(
        throw new IllegalArgumentException(
          s"setTimePartition: column $col is not in the table schema"))
      require(GraftDayPartition.supported(unit, f.dataType),
        s"setTimePartition: $unit($col) does not support " +
          s"${f.dataType.simpleString}")
      (current.map(_._1).toSeq ++ past.map(_._1)).foreach(prev =>
        require(prev == col,
          s"setTimePartition: this table's time specs already use column " +
            s"$prev — one clock per table (got $col)"))
    }
    if (spec == current) return
    // the outgoing spec joins the past list (newest first); re-installing
    // a FORMER spec promotes it back out of the list
    val newPast = (current.toSeq ++ past)
      .filterNot(spec.contains).distinct
    val newProps = (props - GraftTable.DayColProp - GraftTable.TimeUnitProp -
        GraftTable.PastTimeSpecsProp) ++
      spec.map(s => GraftTable.DayColProp -> s._1) ++
      spec.filter(_._2 != "days").map(s => GraftTable.TimeUnitProp -> s._2) ++
      (if (newPast.nonEmpty)
         Map(GraftTable.PastTimeSpecsProp ->
           GraftTable.encodePastTimeSpecs(newPast))
       else Map.empty)
    GraftTable.writeProps(fsOf(spark, table), new Path(table.dir), newProps)
  }

  /** TZ-independent unit-index SQL, matching GraftDayPartition.unitOf
    * (UTC): micros → epoch day/hour by floor division; months via the
    * calendar of that epoch DAY (dates are TZ-free), never the session
    * zone. The rewrite verbs (compactDayTable, migrateTimeLayout) route
    * rows by this expression so their one-job repartition agrees with
    * the writer's directory arithmetic bit-for-bit.
    */
  private[sources] def unitIndexExpr(unit: String,
                                     dt: org.apache.spark.sql.types.DataType,
                                     dayCol: String): String = (unit, dt) match {
    case ("hours", org.apache.spark.sql.types.TimestampType) =>
      s"FLOOR(unix_micros($dayCol) / 3600000000)"
    case ("days", org.apache.spark.sql.types.TimestampType) =>
      s"FLOOR(unix_micros($dayCol) / 86400000000)"
    case ("days", org.apache.spark.sql.types.DateType) =>
      s"CAST(datediff($dayCol, DATE '1970-01-01') AS BIGINT)"
    case ("months", org.apache.spark.sql.types.TimestampType) =>
      s"""(year(date_add(DATE '1970-01-01',
         | CAST(FLOOR(unix_micros($dayCol) / 86400000000) AS INT))) - 1970) * 12
         | + month(date_add(DATE '1970-01-01',
         | CAST(FLOOR(unix_micros($dayCol) / 86400000000) AS INT))) - 1"""
        .stripMargin.replaceAll("\n", " ")
    case ("months", org.apache.spark.sql.types.DateType) =>
      s"(year($dayCol) - 1970) * 12 + month($dayCol) - 1"
    case other => throw new IllegalStateException(
      s"time-layout rewrite: unsupported $other")
  }

  /** Catch-up rewrite after [[setTimePartition]]: files NOT laid out
    * under the CURRENT spec (pre-layout flat files and former-spec
    * segments) are rewritten into the current layout — one distributed
    * job, grouped by target segment, committed like a compaction
    * (history: next manifest, kind=compact — streams skip it; plain:
    * swap). After it, the whole table prunes under one spec. Returns
    * (files migrated, files landed).
    */
  def migrateTimeLayout(spark: SparkSession, table: GraftTable): (Int, Int) = {
    import org.apache.spark.sql.functions.{col, expr}
    val dir = new Path(table.dir)
    val dayCol = table.dayCol.getOrElse(
      throw new IllegalArgumentException(
        s"migrateTimeLayout: ${table.dir} has no current time partitioning"))
    val unit = table.timeUnit
    val fs = fsOf(spark, table)
    val base = foldedBase(spark, fs, table)
    val files = base.files
    val stale = files.filter(f =>
      GraftDayPartition.unitOfFile(table.dir, f, dayCol, unit).isEmpty)
    if (stale.isEmpty) return (0, files.size)
    val dt = table.schema()(dayCol).dataType
    val unitExpr = unitIndexExpr(unit, dt, dayCol)
    val staging = new Path(dir, s".migrate-${UUID.randomUUID()}")
    withMicrosTimestamps(spark) {
      evoRead(spark, table, stale)
        .withColumn("__graft_unit", expr(unitExpr))
        .repartition(col("__graft_unit"))
        .write.partitionBy("__graft_unit").mode("overwrite")
        .parquet(staging.toString)
    }
    val moves = fs.listStatus(staging).toSeq
      .filter(_.isDirectory)
      .flatMap { seg =>
        val raw = seg.getPath.getName.stripPrefix("__graft_unit=")
        val target = new Path(dir, GraftDayPartition.dirName(dayCol, unit,
          if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw.toLong)))
        fs.mkdirs(target)
        fs.listStatus(seg.getPath).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(p => p.getPath -> new Path(target,
            s"part-migrate-${UUID.randomUUID().toString.take(12)}.parquet"))
      }
    val landed = landRewrite(spark, fs, table, base, stale.toSet, moves,
      staging)(table.ioSchema)
    (stale.size, landed.size)
  }
}

/** Declared snapshot-retention policy — table properties the maintenance
  * verb [[GraftMaintenance.applyRetention]] (and the
  * `graft_apply_retention` TVF) enforce, completing the declared-contract
  * family (sort-on-write, index-on-write, masking): the retention dial
  * lives ON the table, not in whoever remembers to run VACUUM with the
  * right number.
  *
  *  - `retention.keep-last` = N — keep at least the N newest snapshots;
  *  - `retention.max-age-ms` = ms — keep every snapshot younger than ms;
  *  - both declared: a snapshot expires only when BOTH allow it;
  *  - the current snapshot, tags and branch pins always survive.
  *
  * Validated LOUDLY at CREATE / ALTER SET (positive integers), never at
  * apply time.
  */
object GraftRetention {

  val KeepLastProp = "retention.keep-last"
  val MaxAgeProp = "retention.max-age-ms"

  def isRetentionProp(k: String): Boolean =
    k == KeepLastProp || k == MaxAgeProp

  def of(props: Map[String, String]): (Option[Int], Option[Long]) =
    (props.get(KeepLastProp).map(_.trim.toInt),
      props.get(MaxAgeProp).map(_.trim.toLong))

  def validate(props: Map[String, String]): Unit = {
    props.get(KeepLastProp).foreach { v =>
      val n = try v.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$KeepLastProp: '$v' is not an integer")
      }
      require(n >= 1, s"$KeepLastProp: must keep at least 1 snapshot, got $n")
    }
    props.get(MaxAgeProp).foreach { v =>
      val ms = try v.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$MaxAgeProp: '$v' is not a long (epoch-relative milliseconds)")
      }
      require(ms > 0, s"$MaxAgeProp: must be a positive age, got $ms")
    }
  }
}
