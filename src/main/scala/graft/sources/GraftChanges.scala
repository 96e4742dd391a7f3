package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

/** CHANGE DATA FEED for graft history tables, served as an Iceberg-style
  * metadata table: `graft.db.t.changes` is the row-level changelog of
  * `graft.db.t`, derived entirely from the manifest log — no extra stored
  * state, because the manifests ARE the change log:
  *
  *   - an APPEND commit contributes its added files as `insert` images;
  *   - a COPY-ON-WRITE commit (MERGE/UPDATE/DELETE/RESTORE) contributes
  *     the removed files' visible rows as `delete` images and the added
  *     files' rows as `insert` images — a valid multiset delta (carried-
  *     over rows appear as delete+insert pairs in the SAME commit, so
  *     folding `state.exceptAll(deletes).unionAll(inserts)` per commit
  *     reproduces the table state exactly; the volume is bounded by the
  *     rewritten groups, which runtime group filtering keeps to the
  *     affected files);
  *   - a MERGE-ON-READ delta commit is PRECISE: the deletion-vector diff
  *     per file names exactly the deleted positions (emitted as `delete`
  *     images of just those rows), and appended files are the inserts —
  *     MOR deltas ARE the change set;
  *   - a commit marked `compact` (compaction, DV materialization) is a
  *     row-multiset-neutral reorganization and is SKIPPED outright.
  *
  * Schema = base schema + `_change_type` (insert|delete) +
  * `_commit_version`. A batch read plans only the commits inside the
  * `(lo, hi]` window folded from its pushed `_commit_version` comparisons
  * (`graft_changes(cat, t, from, to)` pushes `(from, to]`); with no
  * bound it serves the full retained changelog (changes since the
  * earliest retained snapshot — vacuum moves that baseline). Streaming
  * reads resume from a manifest version offset, so a pipeline can tail a
  * table that receives MERGEs — the thing the plain append source must
  * refuse.
  *
  * Scale shape: planning one commit is two manifest reads + a set/bitmap
  * difference (driver-side metadata, O(files changed)), and only the
  * commits in the window are planned; the data read is exactly their
  * changed files, one task each, through the same pruned parquet reader
  * as the batch scan.
  */
object GraftChanges {
  val Suffix = "changes"
  val TypeCol = "_change_type"
  val VersionCol = "_commit_version"
  val Insert = "insert"
  val Delete = "delete"

  /** Changelog schema: base columns (+ `_row_id` on row-lineage tables —
    * the change feed then carries STABLE row identity, so a COW rewrite's
    * carried delete+insert pair is id-correlatable downstream and a
    * consumer can fold commits into net per-row changes without any key
    * knowledge) + change type + commit version.
    */
  def schemaFor(base: StructType, rowLineage: Boolean = false): StructType =
    StructType(base.fields.toSeq ++
      (if (rowLineage) Seq(StructField(GraftRowId.Col, LongType,
        nullable = false)) else Nil) :+
      StructField(TypeCol, StringType, nullable = false) :+
      StructField(VersionCol, LongType, nullable = false))

  private def diffBitmap(fs: FileSystem, minuend: Option[String],
                         subtrahend: Option[String]): Option[Array[Byte]] =
    minuend.flatMap { m =>
      val bm = GraftDv.read(fs, new Path(m))
      subtrahend.foreach(s => bm.andNot(GraftDv.read(fs, new Path(s))))
      if (bm.isEmpty) None else Some(GraftDv.toBytes(bm))
    }

  /** The `(lo, hi]` version window of one `_commit_version` comparison
    * against a BIGINT literal, or None for any other filter (which then
    * only filters rows after the scan).
    */
  private[sources] def versionWindow(f: Filter): Option[(Long, Long)] = {
    def below(v: Long) = if (v == Long.MinValue) v else v - 1
    f match {
      case GreaterThan(VersionCol, v: Long) => Some((v, Long.MaxValue))
      case GreaterThanOrEqual(VersionCol, v: Long) => Some((below(v), Long.MaxValue))
      case LessThan(VersionCol, v: Long) => Some((Long.MinValue, below(v)))
      case LessThanOrEqual(VersionCol, v: Long) => Some((Long.MinValue, v))
      case EqualTo(VersionCol, v: Long) => Some((below(v), v))
      case _ => None
    }
  }

  /** Consecutive pairs `(predecessor, commit)` of the RETAINED version
    * list whose commit lies in `(fromExclusive, toInclusive]` — a vacuum
    * gap folds into its successor's diff, which is still a correct delta.
    */
  def commitPairs(versions: Seq[Long], fromExclusive: Long,
                  toInclusive: Long): Seq[(Long, Long)] =
    versions.zip(versions.drop(1))
      .filter { case (_, v) => v > fromExclusive && v <= toInclusive }

  /** Change partitions for every commit in `(fromExclusive, toInclusive]`. */
  def commitPartitions(fs: FileSystem, dir: Path, fromExclusive: Long,
                       toInclusive: Long): Array[InputPartition] =
    pairPartitions(fs, dir, commitPairs(GraftTable.manifestVersions(fs, dir),
      fromExclusive, toInclusive))

  private[sources] def pairPartitions(fs: FileSystem, dir: Path,
                                      pairs: Seq[(Long, Long)]): Array[InputPartition] =
    pairs.flatMap { case (prev, v) =>
      if (GraftTable.commitKind(fs, dir, v).contains(GraftTable.KindCompact))
        Nil // multiset-neutral reorganization: nothing changed, emit nothing
      else {
        val before = GraftTable.readFullEntries(fs, dir, prev)
          .map(e => new Path(e.file).getName -> e).toMap
        val after = GraftTable.readFullEntries(fs, dir, v)
          .map(e => new Path(e.file).getName -> e).toMap
        val inserts = (after.keySet -- before.keySet).toSeq.sorted.map { n =>
          val e = after(n)
          // rows visible at v: physical rows minus the file's masks
          GraftChangePartition(e.file, v, Insert, skipDv = e.dv,
            skipEqs = e.eqs)
        }
        val deletes = (before.keySet -- after.keySet).toSeq.sorted.map { n =>
          val e = before(n)
          // rows visible at prev — already-masked rows are NOT re-deleted
          GraftChangePartition(e.file, v, Delete, skipDv = e.dv,
            skipEqs = e.eqs)
        }
        // files present in BOTH versions whose DV changed: the bitmap
        // diffs are the precise row-level change set (merge-on-read
        // deltas; restore can shrink a DV, resurrecting rows as inserts)
        val dvChanges = (before.keySet & after.keySet).toSeq.sorted.flatMap { n =>
          val eB = before(n); val eA = after(n)
          if (eB.dv == eA.dv) Nil
          else {
            val newlyDeleted = diffBitmap(fs, eA.dv, eB.dv)
              .map(b => GraftChangePartition(eA.file, v, Delete,
                keepBytes = Some(b), skipEqs = eB.eqs))
            val resurrected = diffBitmap(fs, eB.dv, eA.dv)
              .map(b => GraftChangePartition(eA.file, v, Insert,
                keepBytes = Some(b), skipEqs = eA.eqs))
            newlyDeleted.toSeq ++ resurrected.toSeq
          }
        }
        // files whose EQUALITY mask set changed. Growth (upsert-by-key
        // commits): the delete images are exactly the rows visible at
        // prev that MATCH the new masks' keys — precise, like the DV
        // diff. Shrink (a restore over an eqdelta commit): the rows the
        // unmasking resurrects — masked at prev, visible at v — are
        // insert images, mirroring the DV-shrink path above.
        val eqChanges = (before.keySet & after.keySet).toSeq.sorted.flatMap { n =>
          val eB = before(n); val eA = after(n)
          val newEqs = eA.eqs.filterNot(eB.eqs.contains)
          val removedEqs = eB.eqs.filterNot(eA.eqs.contains)
          val masked = if (newEqs.isEmpty) Nil
            else Seq(GraftChangePartition(eB.file, v, Delete, skipDv = eB.dv,
              skipEqs = eB.eqs, matchEqs = newEqs))
          val unmasked = if (removedEqs.isEmpty) Nil
            else Seq(GraftChangePartition(eA.file, v, Insert, skipDv = eA.dv,
              skipEqs = eA.eqs, matchEqs = removedEqs))
          masked ++ unmasked
        }
        inserts ++ deletes ++ dvChanges ++ eqChanges
      }
    }.toArray
}

/** One changed file (or DV-diff slice of a file) of one commit.
  * `skipDv` masks the file's own deletion vector (rows already deleted at
  * that snapshot are not change images); `keepBytes` restricts emission
  * to a serialized position bitmap (DV diffs).
  */
case class GraftChangePartition(file: String, version: Long,
                                changeType: String,
                                skipDv: Option[String] = None,
                                keepBytes: Option[Array[Byte]] = None,
                                skipEqs: Seq[String] = Nil,
                                matchEqs: Seq[String] = Nil)
  extends InputPartition

class GraftChangesTable(base: GraftTable) extends Table with SupportsRead {
  require(base.history,
    s"${base.name()}: only history tables have a commit log to serve changes from")

  override def name(): String = s"${base.name()}.${GraftChanges.Suffix}"
  override def schema(): StructType =
    GraftChanges.schemaFor(base.schema(), base.rowLineage)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a changelog replays raw pre/post row images by design — refused on
    // masked / row-filtered tables outside the admin bypass (the same
    // line Databricks draws for CDF × row filters)
    GraftGovernance.refuseRawPath(base, "the change feed")
    new GraftChangesScanBuilder(base, GraftStreamLimits.from(options))
  }
}

class GraftChangesScanBuilder(base: GraftTable, limits: GraftStreamLimits)
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType =
    GraftChanges.schemaFor(base.schema(), base.rowLineage)
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Folds every `_commit_version` comparison with a BIGINT literal into
    * one `(lo, hi]` window the batch scan plans against. Every filter is
    * also returned as residual, so Spark re-applies them all and the
    * window only decides which commits are read, never which rows pass.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GraftChanges.versionWindow(_).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val (lo, hi) = pushed.flatMap(GraftChanges.versionWindow)
      .foldLeft((Long.MinValue, Long.MaxValue)) { case ((l, h), (l2, h2)) =>
        (math.max(l, l2), math.min(h, h2))
      }
    new GraftChangesScan(base, required, limits, lo, hi)
  }
}

/** `(fromExclusive, toInclusive]` is the pushed version window (an
  * unbounded side is Long.MinValue / Long.MaxValue); the batch plan clamps
  * it to the retained log.
  */
class GraftChangesScan(base: GraftTable, required: StructType,
                       limits: GraftStreamLimits, fromExclusive: Long,
                       toInclusive: Long)
  extends Scan with Batch {

  private def fs = new Path(base.dir)
    .getFileSystem(SparkSession.active.sessionState.newHadoopConf())
  // a micro-batch stream plans from its offsets, never from this window
  @volatile private var streaming = false

  /** The batch plan — the window clamped to the retained versions, the
    * number of commits inside it and their partitions — made once, so
    * description() can report it without planning twice.
    */
  private lazy val plan: (Long, Long, Int, Array[InputPartition]) = {
    val dir = new Path(base.dir)
    val versions = GraftTable.manifestVersions(fs, dir)
    val from = versions.headOption.fold(fromExclusive)(math.max(_, fromExclusive))
    val to = versions.lastOption.fold(toInclusive)(math.min(_, toInclusive))
    val pairs = GraftChanges.commitPairs(versions, from, to)
    (from, to, pairs.size, GraftChanges.pairPartitions(fs, dir, pairs))
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft ${base.name()}.changes cols=${required.fieldNames.mkString(",")}" +
      (if (streaming) "" else {
        val (from, to, commits, parts) = plan
        s" versions=($from,$to] commits=$commits partitions=${parts.length}"
      })

  /** Batch read: the commits of the pushed window that the log retains
    * (vacuum's earliest kept snapshot is the baseline and contributes no
    * images); a window of compaction commits only plans nothing.
    */
  override def planInputPartitions(): Array[InputPartition] = plan._4

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftChangesReaderFactory(required, base.physicalSchema, base.dir,
      base.partitionFields,
      new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()),
      base.aliases, base.existenceDefaults)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    streaming = true
    new GraftChangesMicroBatchStream(base, required,
      new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()),
      limits)
  }
}

/** Streaming half: offsets are manifest versions (same resume contract as
  * the plain append source), each micro-batch serves the change images of
  * the commits in `(start, end]` — including COW rewrites and MOR deltas,
  * which the append source must refuse.
  */
class GraftChangesMicroBatchStream(base: GraftTable, required: StructType,
                                   conf: SerializableHadoopConf,
                                   limits: GraftStreamLimits = GraftStreamLimits.Unlimited)
  extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  private def dir = new Path(base.dir)
  private def fs = dir.getFileSystem(conf.value)
  private def versions: Seq[Long] = GraftTable.manifestVersions(fs, dir)

  override def initialOffset(): Offset =
    GraftVersionOffset(versions.headOption.getOrElse(
      throw new IllegalStateException(
        s"streaming changes of ${base.name()}: history table has no manifest")))

  override def latestOffset(): Offset = GraftVersionOffset(versions.last)

  /** Admission control (same contract as the append tail): the change
    * feed of a deep retained log drains across bounded micro-batches —
    * commit-atomic, offsets stay exact resume points.
    */
  override def latestOffset(
      start: Offset,
      readLimit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftVersionOffset].version
    if (limits.isUnlimited) GraftVersionOffset(versions.lastOption.getOrElse(s))
    else GraftVersionOffset(limits.cappedEnd(fs, dir, versions, s))
  }

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset =
    GraftVersionOffset(versions.lastOption.getOrElse(0L))

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset].version
    val e = end.asInstanceOf[GraftVersionOffset].version
    if (e <= s) Array.empty
    else GraftChanges.commitPartitions(fs, dir, s, e)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftChangesReaderFactory(required, base.physicalSchema, base.dir,
      base.partitionFields, conf, base.aliases, base.existenceDefaults)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class GraftChangesReaderFactory(required: StructType,
                                physicalSchema: StructType,
                                tableDir: String,
                                partFields: Seq[StructField],
                                conf: SerializableHadoopConf,
                                aliases: Map[String, Seq[String]] = Map.empty,
                                existDefaults: Map[String, Any] = Map.empty)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftChangePartition]
    new GraftChangeRowReader(required, physicalSchema, tableDir, partFields,
      p, conf, aliases, existDefaults)
  }
}

/** Wraps the ordinary file reader: data columns (and any identity
  * partition columns) come from it; `_change_type` / `_commit_version`
  * are per-partition constants appended by index plan.
  */
class GraftChangeRowReader(required: StructType, physicalSchema: StructType,
                           tableDir: String, partFields: Seq[StructField],
                           p: GraftChangePartition,
                           conf: SerializableHadoopConf,
                           aliases: Map[String, Seq[String]] = Map.empty,
                           existDefaults: Map[String, Any] = Map.empty)
  extends PartitionReader[InternalRow] {

  private val dataRequired = StructType(required.fields.filter(f =>
    f.name != GraftChanges.TypeCol && f.name != GraftChanges.VersionCol))
  private val keep: Option[Roaring64Bitmap] = p.keepBytes.map(GraftDv.fromBytes)
  private val inner = new GraftPartitionReader(dataRequired, physicalSchema,
    tableDir, partFields, Array.empty, p.file, p.skipDv, conf, keep,
    skipEqs = p.skipEqs, matchEqs = p.matchEqs, aliases = aliases,
    existDefaults = existDefaults)
  private val typeVal = UTF8String.fromString(p.changeType)
  // required index → inner index, or -1 = _change_type, -2 = _commit_version
  private val plan: Array[Int] = {
    var di = -1
    required.fields.map { f =>
      if (f.name == GraftChanges.TypeCol) -1
      else if (f.name == GraftChanges.VersionCol) -2
      else { di += 1; di }
    }
  }

  override def next(): Boolean = inner.next()

  override def get(): InternalRow = {
    val r = inner.get()
    val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(plan.length)
    var i = 0
    while (i < plan.length) {
      if (plan(i) == -1) out.update(i, typeVal)
      else if (plan(i) == -2) out.update(i, p.version)
      else if (r.isNullAt(plan(i))) out.setNullAt(i)
      else out.update(i, r.get(plan(i), dataRequired.fields(plan(i)).dataType))
      i += 1
    }
    out
  }

  override def close(): Unit = inner.close()
}
