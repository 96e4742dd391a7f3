package graft.sources

import java.io.{DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.roaringbitmap.longlong.Roaring64Bitmap

/** Positional deletion-vector sidecars for merge-on-read tables: one
  * Roaring64 bitmap of deleted row positions per data file, stored as
  * `_graft_dv_<dataFile>.bin` next to the data (the underscore keeps it
  * invisible to `GraftTable.dataFiles` and any plain parquet listing).
  * This is the Delta Lake / Iceberg v2 position-delete shape: deleting k
  * rows from a 1 GB file costs a few-KB sidecar write instead of a 1 GB
  * rewrite, and the read path pays one bitmap probe per row until
  * [[GraftMaintenance.materializeDeletes]] folds the vector in.
  */
object GraftDv {
  private val Prefix = "_graft_dv_"
  private val Suffix = ".bin"

  def dvName(dataFileName: String): String = s"$Prefix$dataFileName$Suffix"
  def isDv(name: String): Boolean = name.startsWith(Prefix) && name.endsWith(Suffix)
  def dataFileName(dvName: String): String =
    dvName.stripPrefix(Prefix).stripSuffix(Suffix)

  /** VERSIONED sidecar name for merge-on-read HISTORY tables: each delta
    * commit writes a fresh merged bitmap under a unique name and re-points
    * the manifest entry — past snapshots keep referencing their own
    * sidecar, which is what makes DV state time-travelable. (The uuid
    * suffix also keeps these from ever matching a directory-listing
    * lookup keyed by `dvName`, which only plain MOR tables use.)
    */
  def versionedDvName(dataFileName: String): String =
    s"$Prefix$dataFileName.${java.util.UUID.randomUUID().toString.take(8)}$Suffix"

  def read(fs: FileSystem, path: Path): Roaring64Bitmap = {
    val in = new DataInputStream(fs.open(path))
    try { val bm = new Roaring64Bitmap; bm.deserialize(in); bm } finally in.close()
  }

  def write(fs: FileSystem, path: Path, bm: Roaring64Bitmap): Unit = {
    bm.runOptimize()
    val out = new DataOutputStream(fs.create(path, true))
    try bm.serialize(out) finally out.close()
  }

  def toBytes(bm: Roaring64Bitmap): Array[Byte] = {
    bm.runOptimize()
    val bos = new java.io.ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    bm.serialize(out); out.flush()
    bos.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): Roaring64Bitmap = {
    val bm = new Roaring64Bitmap
    bm.deserialize(new DataInputStream(new java.io.ByteArrayInputStream(bytes)))
    bm
  }
}

/** Delta-based (merge-on-read) row-level operation — Spark's
  * `SupportsDelta` path: `RewriteDeleteFromTable` / `RewriteUpdateTable` /
  * `RewriteMergeIntoTable` plan a `WriteDelta` that feeds this operation
  * only the CHANGED rows, keyed by row id (`_file`, `_pos`), instead of
  * rewriting whole affected files. Deletes land as deletion-vector
  * sidecars; inserts append new files; updates are split into
  * delete+insert (`representUpdateAsDeleteAndInsert`). The scan side may
  * push filters for whole-file skipping (a file with no matching rows
  * contributes no row ids — pruning it is exact), but never record
  * filters (row positions must count every physical row).
  */
class GraftDeltaOperation(table: GraftTable, cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftDeltaOperation[$cmd, merge-on-read]"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table, Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new GraftDeltaWriteBuilder(table, info)

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftTable.FileCol), Expressions.column(GraftTable.PosCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  /** On row-lineage tables the rewrite plan carries `_row_id` as a
    * metadata attribute: an UPDATE's reinserted row keeps its id (read
    * from the metadata row), a MERGE's genuine inserts arrive without one
    * and mint. Non-lineage tables need no metadata beyond the row id.
    */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (table.rowLineage) Array(Expressions.column(GraftRowId.Col))
    else Array.empty
}

class GraftDeltaWriteBuilder(table: GraftTable, info: LogicalWriteInfo)
  extends DeltaWriteBuilder {
  override def build(): DeltaWrite = new DeltaWrite {
    override def toBatch: DeltaBatchWrite = {
      val rowIdSchema = info.rowIdSchema().orElseThrow(() =>
        new IllegalStateException("delta write without a row-id schema"))
      val metaSchema: StructType =
        info.metadataSchema().orElse(new StructType())
      new GraftDeltaBatchWrite(table, info.schema(), rowIdSchema, metaSchema)
    }
  }
}

/** Per-task delta results: the insert writer's [[GraftCommit]] (staged
  * files with their stats and index entries, and the identity/row-id
  * allocation) plus per-data-file serialized deletion bitmaps. Bitmaps
  * ride the commit message (positions per task are bounded by the task's
  * matched rows); at 100 TB scale the same protocol holds — a task's
  * delete set is proportional to its slice of the change set, not to
  * table size — though a format would stage DV files and commit
  * references instead of bytes-in-message.
  */
case class GraftDeltaCommit(inserted: GraftCommit,
                            deletes: Map[String, Array[Byte]])
  extends WriterCommitMessage

class GraftDeltaBatchWrite(table: GraftTable, rowSchema: StructType,
                           rowIdSchema: StructType,
                           metaSchema: StructType = new StructType())
  extends DeltaBatchWrite {

  private val stagingDir =
    new Path(table.dir, s".staging-${java.util.UUID.randomUUID()}")
  private def hadoopConf = SparkSession.active.sessionState.newHadoopConf()

  /** Identity/row-id allocation of the job's genuine inserts — commit
    * re-checks it (the batch-append protocol, on the delta path).
    */
  @volatile private var alloc: Option[GraftWriteJob.Allocation] = None

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val conf = hadoopConf
    val fs = stagingDir.getFileSystem(conf)
    fs.mkdirs(stagingDir)
    // a pure DELETE plans no data columns (empty row schema): it writes no
    // files, allocates nothing and builds no insert writer. Inserts take
    // the batch writer's factory whole — layout, CHECK / NOT NULL
    // constraints, generated columns, index-on-write columns, and the
    // identity and row-lineage allocation: genuine inserts (MERGE ...
    // INSERT) allocate against the head watermark exactly like a batch
    // append (the DATA row never carries `_row_id`); update-REINSERTED
    // rows carry their existing key and id (idCarry / the rowCarry
    // side-channel from the METADATA row)
    val inserts =
      if (rowSchema.isEmpty) None
      else {
        val a = new GraftWriteJob.Allocation(table, fs, rowSchema,
          info.numPartitions, ids = true, rows = true)
        alloc = Some(a)
        Some(GraftWriteJob.writerFactory(table, rowSchema, stagingDir, conf, a,
          rewrite = false))
      }
    val metaRowIdIdx =
      if (table.rowLineage && metaSchema.fieldNames.contains(GraftRowId.Col))
        metaSchema.fieldIndex(GraftRowId.Col) else -1
    new GraftDeltaWriterFactory(inserts,
      rowIdSchema.fieldIndex(GraftTable.FileCol),
      rowIdSchema.fieldIndex(GraftTable.PosCol), metaRowIdIdx)
  }

  /** Commit: OR each file's new delete positions into its existing
    * sidecar (idempotent merge), then land appended files. On a HISTORY
    * table the merged bitmaps land under fresh VERSIONED sidecar names and
    * the next manifest re-points the affected entries — past snapshots
    * keep their own delete state, so `VERSION AS OF` a pre-delete version
    * resurrects the rows and vacuum expires superseded sidecars like data
    * files. The bitmaps were merged against one head, so a racing commit
    * refuses the delta ([[GraftTable.singleShot]]), as does a first head
    * that no longer holds a file the delta masks.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = stagingDir.getFileSystem(hadoopConf)
    val dir = new Path(table.dir)
    val deltas = messages.toSeq.collect { case d: GraftDeltaCommit => d }
    val inserted = deltas.map(_.inserted)
    val merged = mutable.Map.empty[String, Roaring64Bitmap]
    deltas.foreach { d =>
      d.deletes.foreach { case (file, bytes) =>
        val bm = GraftDv.fromBytes(bytes)
        merged.get(file) match {
          case Some(acc) => acc.or(bm)
          case None => merged(file) = bm
        }
      }
    }
    def land() = GraftWriteJob.landing(fs, dir, stagingDir, inserted)
    if (table.history) {
      val landing = land()
      // branch deltas read the branch head and commit into the branch
      // namespace — MERGE INTO db.t.branch_<b> on a MOR table stages DV
      // sidecars exactly like main, invisible to main until fast-forward.
      // The identity/row-id watermarks ride the SAME manifest
      val published = alloc.fold(Map.empty[String, String])(
        _.published(inserted.flatMap(_.idLast), inserted.flatMap(_.rowLast)))
      landing.commit(table.branch,
          published ++ GraftTable.kindMeta(GraftTable.KindDelta))(
          GraftTable.singleShot(table.name()) { head =>
        require(head.version > 0L, s"history table ${table.name()} has no manifest")
        alloc.foreach(_.check(head, published))
        val mergedByName = merged.map { case (f, bm) =>
          new Path(f).getName -> bm
        }
        // a racer that rewrote or removed a file before the first head
        // read would silently drop that file's delete positions
        val headNames = head.entries.map(e => new Path(e.file).getName).toSet
        mergedByName.keys.find(n => !headNames.contains(n)).foreach { n =>
          throw new IllegalStateException(
            s"concurrent update conflict on ${table.name()}: data file $n " +
              "holds rows this delta deletes but a racing commit rewrote " +
              "or removed it — committing would lose those deletes; " +
              "re-run the statement against the current snapshot")
        }
        head.entries.map { e =>
          mergedByName.get(new Path(e.file).getName) match {
            case Some(bm) =>
              e.dv.foreach(d => bm.or(GraftDv.read(fs, new Path(d))))
              val dvPath = new Path(dir,
                GraftDv.versionedDvName(new Path(e.file).getName))
              GraftDv.write(fs, dvPath, bm)
              e.copy(dv = Some(dvPath.toString)) // equality masks survive
            case None => e
          }
        } ++ landing.entries
      })
    } else {
      merged.foreach { case (file, bm) =>
        val dvPath = new Path(dir, GraftDv.dvName(new Path(file).getName))
        if (fs.exists(dvPath)) bm.or(GraftDv.read(fs, dvPath))
        GraftDv.write(fs, dvPath, bm)
      }
      land().publish()
    }
    fs.delete(stagingDir, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = stagingDir.getFileSystem(hadoopConf)
    fs.delete(stagingDir, true)
  }
}

/** Delta writers over the batch write's insert factory (None for a pure
  * DELETE).
  */
class GraftDeltaWriterFactory(inserts: Option[GraftWriterFactory],
                              fileIdx: Int, posIdx: Int, metaRowIdIdx: Int)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(
      inserts.map(_.createWriter(partitionId, taskId).asInstanceOf[GraftDataWriter]),
      fileIdx, posIdx, metaRowIdIdx)
}

/** Accumulates delete positions per data file in Roaring bitmaps and
  * appends inserted rows through the batch path's [[GraftDataWriter]].
  * `update` is never called (updates are represented as delete+insert) —
  * it throws rather than silently half-applying.
  */
class GraftDeltaWriter(inserts: Option[GraftDataWriter], fileIdx: Int,
                       posIdx: Int, metaRowIdIdx: Int)
  extends DeltaWriter[InternalRow] {

  private val deletes = mutable.Map.empty[String, Roaring64Bitmap]
  private def writer: GraftDataWriter = inserts.getOrElse(
    throw new IllegalStateException("delta insert without data columns"))

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val file = id.getUTF8String(fileIdx).toString
    deletes.getOrElseUpdate(file, new Roaring64Bitmap).addLong(id.getLong(posIdx))
  }

  override def insert(row: InternalRow): Unit = writer.write(row)

  /** Update-reinserted rows carry the pre-update GENERATED values — the
    * writer recomputes them instead of enforcing explicit equality — and
    * keep their IDENTITY value verbatim (a surrogate key survives its
    * row's update; idCarry bypasses both allocation and the GENERATED
    * ALWAYS explicit-value refusal for exactly this carrier path).
    */
  override def reinsert(meta: InternalRow, row: InternalRow): Unit = {
    val w = writer
    w.genCheck = false
    w.idCarry = true
    // row lineage: the original row's id rides the METADATA row — pin it
    // for this one write so the reinsert keeps its identity instead of
    // minting (a NULL there would be a lineage bug, so fail loudly)
    if (metaRowIdIdx >= 0) {
      require(!meta.isNullAt(metaRowIdIdx),
        "row-lineage reinsert without a carried _row_id — the rewrite " +
          "plan lost the metadata column")
      w.rowCarry = Some(meta.getLong(metaRowIdIdx))
    }
    try w.write(row) finally {
      w.genCheck = true; w.idCarry = false
      w.rowCarry = None
    }
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new UnsupportedOperationException(
      "graft delta writer represents updates as delete+insert")

  override def commit(): WriterCommitMessage =
    GraftDeltaCommit(
      inserts.fold(GraftCommit(Nil))(_.commit().asInstanceOf[GraftCommit]),
      deletes.view.mapValues(GraftDv.toBytes).toMap)

  override def abort(): Unit = inserts.foreach(_.abort())
  override def close(): Unit = inserts.foreach(_.close())
}
