package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Incremental cross-warehouse REPLICATION (the DR / multi-region mirror
  * verb — Delta's "deep clone incremental", Iceberg's snapshot-sync):
  * `replicate(src, dst)` makes `dst` a byte-faithful mirror of the source
  * table's COMMIT HISTORY — manifests (each carrying its commit kind),
  * branch namespaces, segments, DV/equality sidecars, file stats, tags —
  * not just its head snapshot (what [[GraftClone]] pins). Time travel,
  * `.changes`, tag reads and row lineage all work on the mirror verbatim,
  * because the mirror IS the same manifest log over the same (copied)
  * bytes; the composition verb is `graft_register`, which adopts the
  * mirror into any catalog as a queryable table with zero further
  * copying.
  *
  * Re-running is the sync: immutable files already present at the same
  * length are SKIPPED (data/segment/sidecar/manifest names are
  * uuid- or version-unique, so presence+length identifies content), so
  * the second call after N new commits copies exactly those commits'
  * bytes — O(delta), never O(table). A sync that finds NOTHING new
  * copies zero bytes (spec-asserted idempotence).
  *
  * Crash-ordering contract (the fast-forward oldest-first argument, once
  * more): a reader of the mirror resolves its head from the max manifest
  * version present, so the copy is staged to keep every intermediate
  * state a valid PREFIX of the source's history —
  *   1. bulk immutables first (data files in their partition layout, DV +
  *      equality sidecars, manifest segments), one distributed job;
  *   2. the per-file metadata logs ([[GraftFileLog]]: `_graft_filestats/`
  *      and `_graft_bloom/`) mirrored EXACTLY — add missing, drop extra —
  *      because consolidation, retention and RENAME-COLUMN rewrite them in
  *      place and a stale twin must not shadow the rewrite;
  *   3. schema + props + branch records, content-compared (so evolved
  *      columns resolve before any manifest that references them arrives,
  *      and a re-forked branch base — a same-length in-place rewrite the
  *      length gate cannot see — lands before the branch manifests);
  *   4. manifests, OLDEST version first (main and every branch
  *      namespace);
  *   5. refs (tags/branches) last, so a name never dangles.
  * A crash mid-sync therefore leaves the mirror a correct, readable table
  * at some version the source really had; the re-run resumes where it
  * died. In-flight WAP staging (`.wap-*`) and tmp files are never
  * shipped — the mirror carries only committed state.
  *
  * The mirror is ADD-ONLY for history: if the source vacuums/retires old
  * snapshots between syncs, the mirror keeps its copies (a DR mirror that
  * auto-propagated deletions would be a very poor DR mirror) — retention
  * on the mirror is the mirror owner's own `graft_retention` call.
  * Divergence is refused loudly: if the destination already holds a
  * manifest version whose bytes differ from the source's same version,
  * it is NOT a mirror of this table and nothing is touched.
  *
  * At 100 TB: phase 1 is the only data-weight op and it is one
  * distributed copy job over exactly the missing files (distcp-shaped,
  * [[GraftMaintenance.parallelism]]-sized); every other phase is
  * O(commits) driver-side metadata of a few KB each.
  */
object GraftReplicate {

  case class Report(versionsSynced: Long, filesCopied: Long,
                    bytesCopied: Long, headVersion: Long)

  // Head files that are REWRITTEN IN PLACE by the source (schema, props,
  // branch records, refs): presence+length can never prove them current —
  // a branch drop + re-fork rewrites a base version at identical byte
  // length ('dev\t3' -> 'dev\t9') — so every one of them syncs through
  // copyIfChanged's content comparison, never the length-gated bulk phase.
  private val MutableHead = Set(GraftTable.MetaFile, GraftTable.PropsFile,
    GraftBranch.BranchesFile)
  private val ManifestRe = """_graft_manifest_(\d+)\.txt""".r
  private val BranchManifestRe = """_graft_branch_(.+?)_manifest_(\d+)\.txt""".r

  /** (branch-or-empty, version) of a manifest file name — the sync order
    * key (oldest version first) — or None for any other file.
    */
  private def manifestKey(n: String): Option[(String, Long)] = n match {
    case ManifestRe(v) => Some(("", v.toLong))
    case BranchManifestRe(b, v) => Some((b, v.toLong))
    case _ => None
  }

  /** Listing calls made by [[listAll]] since JVM start — spec-asserted to
    * stay CONSTANT per sync (2: one source, one destination) regardless of
    * file count or directory depth, so a regression back to per-directory
    * walking is caught, not re-discovered at the 10⁶-file mirror.
    */
  private[sources] val listingCalls = new java.util.concurrent.atomic.AtomicLong

  /** All files under `dir` as (relative path, length) in committed state
    * (any dot-prefixed path segment — WAP staging, tmp files — skipped),
    * plus the stranded `.tmp-repl-*` files of a crashed previous sync.
    *
    * ONE `listFiles(recursive)` enumeration, not a per-directory
    * `listStatus` walk: on object stores that is a flat paginated LIST
    * (O(files/page) round trips), and even on HDFS it pipelines — the
    * serial O(directories) RPC chain the old walk paid is gone, which at a
    * 10⁶-file mirror was the sync's entire wall clock.
    */
  private def listAll(fs: FileSystem, dir: Path): (Seq[(String, Long)], Seq[Path]) = {
    if (!fs.exists(dir)) return (Nil, Nil)
    listingCalls.incrementAndGet()
    val files = Seq.newBuilder[(String, Long)]
    val tmps = Seq.newBuilder[Path]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = GraftTable.relativize(dir, st.getPath)
      if (rel.split('/').exists(_.startsWith("."))) {
        if (st.getPath.getName.startsWith(".tmp-repl-")) tmps += st.getPath
      } else files += ((rel, st.getLen))
    }
    (files.result(), tmps.result())
  }

  /** Atomic single-file copy, cross-filesystem: bytes land in a dot-tmp
    * next to the target and RENAME in, so a concurrent mirror reader (or
    * a crash) never observes a truncated manifest/schema/refs file —
    * load-bearing for the readable-prefix contract, since the mirror's
    * head IS the max manifest version present.
    */
  private def atomicCopy(srcFs: FileSystem, src: Path,
                         dstFs: FileSystem, dst: Path): Long = {
    val parent = dst.getParent
    if (parent != null && !dstFs.exists(parent)) dstFs.mkdirs(parent)
    val tmp = new Path(parent,
      s".tmp-repl-${java.util.UUID.randomUUID()}")
    org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, tmp, false, true,
      dstFs.getConf)
    if (dstFs.exists(dst)) dstFs.delete(dst, false)
    require(dstFs.rename(tmp, dst), s"graft_replicate: could not install $dst")
    dstFs.getFileStatus(dst).getLen
  }

  private def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try org.apache.hadoop.io.IOUtils.readFullyToByteArray(
      new java.io.DataInputStream(in))
    finally in.close()
  }

  /** Copy `src` over `dst` only when the bytes differ; returns bytes
    * moved (0 = already identical). Mutable head files (schema, props,
    * refs) go through this, so a no-change sync truly copies NOTHING and
    * the report counts metadata that actually changed.
    */
  private def copyIfChanged(srcFs: FileSystem, src: Path,
                            dstFs: FileSystem, dst: Path): Long =
    if (dstFs.exists(dst) &&
        java.util.Arrays.equals(readAll(srcFs, src), readAll(dstFs, dst))) 0L
    else atomicCopy(srcFs, src, dstFs, dst)

  /** Sync `dstDir` to mirror the loaded table `t`. Idempotent; returns
    * what this call actually moved.
    */
  def replicate(spark: SparkSession, t: GraftTable, dstDir: String): Report = {
    val srcDir = t.dir
    val src = new Path(srcDir)
    val dst = new Path(dstDir)
    // the whole point is CROSS-warehouse: source and destination may live
    // on different filesystems (hdfs -> s3a, file -> hdfs), so each side
    // resolves its own
    val conf0 = spark.sessionState.newHadoopConf()
    val srcFs = src.getFileSystem(conf0)
    val dstFs = dst.getFileSystem(conf0)
    require(t.history,
      s"graft_replicate: $srcDir is not a history table — a mirror " +
        "follows COMMITS, which plain directory-listing tables don't have")
    require(src.toUri != dst.toUri ||
        srcFs.getUri != dstFs.getUri,
      "graft_replicate: source and destination are the same directory")
    // a SHALLOW CLONE's manifests reference foreign absolute paths — a
    // mirror of those references is not self-contained (the DR hazard
    // squared); deep-clone first, then replicate the deep copy
    val (hv, headEntries) = GraftTable.headState(srcFs, src, None)
    if (hv > 0) {
      val foreign = headEntries.iterator
        .flatMap(e => e.file +: (e.dv.toSeq ++ e.eqs))
        .find(f => GraftTable.relativize(src, new Path(f)).startsWith("/"))
      require(foreign.isEmpty,
        s"graft_replicate: $srcDir references foreign files (e.g. " +
          s"${foreign.get}) — a shallow clone cannot be mirrored " +
          "self-contained; graft_clone(..., 'deep') it first")
    }

    val (srcFiles, _) = listAll(srcFs, src)
    val (dstList, strandedTmps) = listAll(dstFs, dst)
    val dstFiles = dstList.toMap

    // --- divergence gate: a manifest version present on BOTH sides must
    // be byte-identical (versions are immutable once committed; a mismatch
    // means dst mirrors some OTHER table or a rewritten fork). Checked per
    // NAMESPACE — main and every branch — at the highest common version of
    // each, so a mirror whose main happens to agree cannot smuggle in a
    // diverged branch history. Namespaces come from the listings already
    // in hand (zero extra listing RPCs; 2 small reads per namespace).
    if (dstFiles.contains(GraftTable.MetaFile)) {
      def manifestsByNs(files: Seq[(String, Long)]): Map[String, Seq[Long]] =
        files.flatMap { case (rel, _) =>
          if (rel.contains("/")) None else manifestKey(rel)
        }.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      def path(root: Path, ns: String, v: Long): Path =
        GraftTable.manifestPath(root, v, Some(ns).filter(_.nonEmpty))
      val srcNs = manifestsByNs(srcFiles)
      val dstNs = manifestsByNs(dstList)
      (srcNs.keySet intersect dstNs.keySet).toSeq.sorted.foreach { ns =>
        val common = srcNs(ns).toSet intersect dstNs(ns).toSet
        common.toSeq.sorted.lastOption.foreach { v =>
          require(java.util.Arrays.equals(
            readAll(srcFs, path(src, ns, v)),
            readAll(dstFs, path(dst, ns, v))),
            s"graft_replicate: $dstDir diverges from $srcDir at " +
              (if (ns.isEmpty) s"version $v" else s"branch '$ns' version $v") +
              " — refusing to overwrite a non-mirror")
        }
      }
    }

    // a crashed previous sync may have stranded tmp files (they are
    // dot-prefixed — invisible to every reader — but they are storage);
    // concurrent syncs of one mirror are undefined anyway, so the new
    // sync owns the namespace and sweeps them (collected by the same
    // listing pass that enumerated the mirror)
    strandedTmps.foreach(dstFs.delete(_, false))

    def needed(rel: String, len: Long): Boolean =
      !dstFiles.get(rel).contains(len)

    val (manifests, rest) = srcFiles.partition(f =>
      !f._1.contains("/") && manifestKey(f._1).nonEmpty)
    val (mutableHead, bulk) = rest.partition(f =>
      MutableHead.contains(f._1) || f._1 == GraftRefs.RefsFile)

    // --- phase 1: bulk immutables, ONE distributed copy job
    val toCopy = bulk.filter((needed _).tupled)
    val conf = new SerializableHadoopConf(conf0)
    val srcStr = src.toString
    val dstStr = dst.toString
    val copiedBytes =
      if (toCopy.isEmpty) 0L
      else {
        spark.sparkContext
          .parallelize(toCopy.map(_._1),
            GraftMaintenance.parallelism(spark, toCopy.size))
          .map { rel =>
            val from = new Path(srcStr, rel)
            val to = new Path(dstStr, rel)
            val fsFrom = from.getFileSystem(conf.value)
            val fsTo = to.getFileSystem(conf.value)
            val parent = to.getParent
            if (parent != null && !fsTo.exists(parent)) fsTo.mkdirs(parent)
            // tmp + rename even for adds: a re-copy of a changed-length
            // stats/index twin must never expose a truncated file
            val tmp = new Path(parent,
              s".tmp-repl-${java.util.UUID.randomUUID()}")
            org.apache.hadoop.fs.FileUtil.copy(fsFrom, from, fsTo, tmp,
              false, true, conf.value)
            if (fsTo.exists(to)) fsTo.delete(to, false)
            if (!fsTo.rename(tmp, to))
              throw new java.io.IOException(s"could not install $to")
            fsTo.getFileStatus(to).getLen
          }.sum().toLong
      }

    // --- phase 2: exact-mirror the per-file metadata logs, `_graft_filestats/`
    // and `_graft_bloom/` (consolidation / retention / re-key safety: a
    // dst-only stale twin must not shadow the rewrite)
    val srcMeta = bulk.collect { case (rel, _) if rel.contains("/") &&
      rel.startsWith("_") => rel }.toSet
    dstFiles.keys.filter(rel => rel.contains("/") && rel.startsWith("_"))
      .filterNot(srcMeta.contains)
      .foreach(rel => dstFs.delete(new Path(dst, rel), false))

    // --- phase 3: schema + props + branch records (changed bytes only —
    // see copyIfChanged; branch records BEFORE the branch manifests of
    // phase 4, so a re-forked base never resolves against manifests that
    // haven't arrived)
    var metaBytes = 0L
    var metaFiles = 0L
    def syncMutable(rel: String): Unit = {
      val moved = copyIfChanged(srcFs, new Path(src, rel),
        dstFs, new Path(dst, rel))
      if (moved > 0) { metaBytes += moved; metaFiles += 1 }
    }
    // branch/tag records are HEAD state, not history: when the source
    // retired its last branch (file deleted), a kept mirror copy would
    // advertise phantom branches over stale fork bases — retire it too
    def retireIfGone(rel: String): Unit =
      if (!srcFiles.exists(_._1 == rel) && dstFiles.contains(rel)) {
        dstFs.delete(new Path(dst, rel), false); metaFiles += 1
      }
    mutableHead.filter(_._1 != GraftRefs.RefsFile)
      .foreach { case (rel, _) => syncMutable(rel) }
    retireIfGone(GraftBranch.BranchesFile)

    // --- phase 4: manifests, oldest first
    val newManifests = manifests.filter((needed _).tupled)
      .sortBy(f => manifestKey(f._1).get)
    var manifestBytes = 0L
    newManifests.foreach { case (rel, _) =>
      manifestBytes += atomicCopy(srcFs, new Path(src, rel),
        dstFs, new Path(dst, rel))
    }

    // --- phase 5: refs last (a tag must never dangle)
    mutableHead.find(_._1 == GraftRefs.RefsFile)
      .foreach { case (rel, _) => syncMutable(rel) }
    retireIfGone(GraftRefs.RefsFile)

    val head = GraftTable.manifestVersions(srcFs, src).lastOption.getOrElse(0L)
    Report(
      versionsSynced = newManifests.size.toLong,
      filesCopied = toCopy.size + newManifests.size + metaFiles,
      bytesCopied = copiedBytes + manifestBytes + metaBytes,
      headVersion = head)
  }

  /** GROUP REPLICATION — the full DR-site verb: replicate EVERY table of
    * one consistency group (see [[GraftBranch.recordGroup]]) under
    * `destRoot`, laid out as a WAREHOUSE (`destRoot/<ns>/<table>`), then
    * install the group's coordinate file last. The destination is
    * therefore a complete, self-describing graft catalog: point
    * `spark.sql.catalog.dr.warehouse` at it and the tables resolve
    * directly — no per-table registration — and `graft_group('dr')`
    * serves the SAME consistent read coordinates the source published,
    * so a failover lands on the exact cross-table state the pipeline
    * last released, never a torn one.
    *
    * Ordering composes both crash contracts: tables sync in the group's
    * recorded (upstream-first) order, each internally oldest-commit-
    * first, and the group file arrives LAST — the DR site never
    * advertises a group before every table of it is readable. Re-runs
    * are the per-table O(delta) sync; a quiet group costs zero bytes.
    *
    * @param tables the group's (ident, loaded table, group version) in
    *               recorded order — the caller loads each ident
    *               (registered external tables follow their pointers)
    */
  def replicateGroup(spark: SparkSession, destRoot: String,
                     groupId: Long, branch: String,
                     tables: Seq[(String, GraftTable, Long)]): Seq[(String, Report)] = {
    val dest = new Path(destRoot)
    val fs = dest.getFileSystem(spark.sessionState.newHadoopConf())
    val reports = tables.map { case (ident, t, _) =>
      val sub = ident.split('.').foldLeft(dest)(new Path(_, _))
      ident -> replicate(spark, t, sub.toString)
    }
    // every table of the group is readable at the mirror — NOW advertise
    GraftBranch.installGroupFile(fs, dest, groupId, branch,
      tables.map { case (t, _, v) => (t, v) })
    reports
  }
}
