package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types.StructType

/** Atomic CTAS/RTAS vehicle: wraps a complete graft table staged in a
  * hidden sibling directory; the CTAS write lands there through the full
  * write stack, and committing installs the directory by rename.
  *
  *  - CREATE: exclusive — a racing CREATE of the same name loses at the
  *    rename (the target exists), and the loser's staged dir is removed.
  *  - REPLACE / CREATE OR REPLACE: two renames (old → `.replaced-<uuid>`
  *    trash, staged → final) then trash delete. The table identity is
  *    preserved; the HISTORY LOG starts fresh (v1 = the staged data) —
  *    CREATE OR REPLACE is a new-table verb, not a restatement commit
  *    (use INSERT OVERWRITE / MERGE for history-preserving restatement).
  *    A crash between the two renames leaves the trash dir recoverable
  *    by hand — the local-FS trade a pointer-swap metastore avoids.
  *  - ABORT (failed/killed CTAS): the staged dir is deleted; the
  *    namespace reads exactly as before the attempt.
  */
class GraftStagedTable(catalog: GraftCatalog, ident: Identifier,
                       staged: GraftTable, stagedDir: Path, finalDir: Path,
                       replace: Boolean, fs: FileSystem)
  extends StagedTable with SupportsWrite {

  override def name(): String = ident.toString
  override def schema(): StructType = staged.schema()
  override def properties(): java.util.Map[String, String] = staged.properties()
  override def capabilities(): java.util.Set[TableCapability] =
    staged.capabilities()

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    staged.newWriteBuilder(info)

  override def commitStagedChanges(): Unit = {
    if (!replace) {
      if (!fs.rename(stagedDir, finalDir)) {
        fs.delete(stagedDir, true)
        throw new IllegalStateException(
          s"CTAS of $ident lost the create race: $finalDir already exists " +
            "(staged bytes discarded)")
      }
    } else {
      val trash = new Path(finalDir.getParent,
        s".replaced-${java.util.UUID.randomUUID().toString.take(12)}")
      val had = fs.exists(finalDir)
      if (had) require(fs.rename(finalDir, trash),
        s"REPLACE of $ident: could not move the old table aside")
      if (!fs.rename(stagedDir, finalDir)) {
        // restore the old table before failing — never leave the name gone
        if (had) fs.rename(trash, finalDir)
        fs.delete(stagedDir, true)
        throw new IllegalStateException(
          s"REPLACE of $ident: could not install the staged table")
      }
      if (had) fs.delete(trash, true)
    }
    // a replaced table's cached manifests and catalog/plan state are
    // stale now
    GraftTable.forgetCachedLog(finalDir)
    org.apache.spark.sql.SparkSession.active.catalog.clearCache()
  }

  override def abortStagedChanges(): Unit = fs.delete(stagedDir, true)
}
