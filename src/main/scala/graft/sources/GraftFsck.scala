package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Table integrity audit (`graft_fsck`) — the ops verb that answers "is
  * this table's metadata telling the truth about its bytes?" before a
  * migration, after a crash, or when a scan throws FileNotFound:
  *
  *  - `entries_resolve` / `missing_files`: every data file, DV sidecar and
  *    equality-delete file referenced by ANY retained manifest (main and
  *    every branch namespace) exists on disk. A missing file means a
  *    retained snapshot is unreadable — the one state a lakehouse must
  *    never be in silently.
  *  - `orphan_files`: data files on disk referenced by NO retained
  *    manifest — failed-task debris or vacuum backlog. Orphans are not
  *    corruption (readers never see them) but they are storage leak and
  *    they poison naive directory-listing interop, so fsck surfaces the
  *    count (`graft_remove_orphans` is the mop).
  *  - `segments_resolve`: every `@segment` ref in every retained manifest
  *    opens. A lost segment breaks manifest carry-forward — fatal.
  *  - `stats_missing`: HEAD data files without a manifest-lifted stats
  *    entry (pruning/CBO degrade to footer probes; `graft_analyze`
  *    backfills).
  *  - `refs_dangling`: tags/branch bases pointing at expired versions.
  *
  * Cost model: ONE driver directory listing + the manifest log — pure
  * metadata, zero data IO, no per-file existence RPCs (the listing IS the
  * existence oracle). At 100 TB that is O(files) set arithmetic on paths,
  * the same order as planning a full scan.
  */
object GraftFsck {

  case class Finding(check: String, status: String, n: Long)

  def audit(spark: SparkSession, t: GraftTable): Seq[Finding] = {
    val dir = new Path(t.dir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())

    // one listing = the existence oracle (committed state only)
    def walk(d: Path): Seq[Path] =
      fs.listStatus(d).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else Seq(st.getPath)
      }
    val onDisk = walk(dir).map(p => GraftTable.relativize(dir, p)).toSet

    if (!t.history) {
      // a plain table IS its directory listing — the only possible finding
      // is a stats entry for a file that no longer exists (harmless; the
      // reader keys stats by live file name)
      return Seq(Finding("entries_resolve", "ok",
        GraftTable.dataFiles(fs, dir).size.toLong))
    }

    val branches = GraftBranch.readAll(fs, dir).keys.toSeq.sorted
    val namespaces = None +: branches.map(Some(_))

    var refsChecked = 0L
    var missing = 0L
    var segmentsBroken = 0L
    val referenced = scala.collection.mutable.Set[String]()
    namespaces.foreach { ns =>
      GraftTable.manifestVersions(fs, dir, ns).foreach { v =>
        try {
          GraftTable.segmentRefs(fs, dir, v, ns).foreach { seg =>
            if (!onDisk.contains(seg)) segmentsBroken += 1
          }
          GraftTable.readFullEntries(fs, dir, v, ns).foreach { e =>
            (e.file +: (e.dv.toSeq ++ e.eqs)).foreach { f =>
              refsChecked += 1
              val rel = GraftTable.relativize(dir, new Path(f))
              referenced += rel
              // foreign absolute entries (shallow clone): check directly
              val ok =
                if (rel.startsWith("/")) fs.exists(new Path(f))
                else onDisk.contains(rel)
              if (!ok) missing += 1
            }
          }
        } catch {
          // an unreadable manifest/segment counts as broken, not a crash —
          // fsck's job is to REPORT the damage
          case _: java.io.IOException => segmentsBroken += 1
        }
      }
    }

    val orphans = onDisk.count { rel =>
      !rel.startsWith("_") && !rel.split("/").exists(_.startsWith("_")) &&
        rel.endsWith(".parquet") && !referenced.contains(rel)
    }.toLong

    val stats = GraftStats.readAll(fs, dir)
    val (_, head) = GraftTable.headState(fs, dir, None)
    val statsMissing = head.count(e =>
      !stats.contains(new Path(e.file).getName)).toLong

    val retained = GraftTable.manifestVersions(fs, dir).toSet
    val refsDangling = GraftRefs.readAll(fs, dir).values
      .count(v => !retained.contains(v)).toLong

    def status(bad: Long) = if (bad == 0) "ok" else "fail"
    Seq(
      Finding("entries_resolve", status(missing + segmentsBroken), refsChecked),
      Finding("missing_files", status(missing), missing),
      Finding("segments_broken", status(segmentsBroken), segmentsBroken),
      Finding("orphan_files", if (orphans == 0) "ok" else "warn", orphans),
      Finding("stats_missing", if (statsMissing == 0) "ok" else "warn",
        statsMissing),
      Finding("refs_dangling", status(refsDangling), refsDangling))
  }
}
