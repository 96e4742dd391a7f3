package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}

/** Named BRANCHES for history tables — Iceberg's branch refs: an isolated
  * write head forked from a main snapshot, advanced by ordinary commits,
  * and published back with a fast-forward. The audit workflow tags/WAP
  * can't express — "stage MANY commits, validate the whole state, then
  * publish atomically or walk away" — falls out of three verbs:
  *
  *   graft_branch(cat, t, name)       -- fork at main's current head
  *   INSERT/MERGE INTO cat.db.t.branch_<name> ...   -- isolated commits
  *   graft_fastforward(cat, t, name)  -- publish: main adopts the branch
  *
  * Storage: branch manifests live in the table root under a per-branch
  * file namespace (`_graft_branch_<name>_manifest_<v>.txt` —
  * GraftTable.manifestPath's branch overload), SHARING the table's data
  * files and manifest segments; `_graft_branches.txt` records
  * `name\tbaseVersion` lines (the main version each branch forked at).
  * Branch versions CONTINUE main's numbering from the base, so a
  * fast-forward is a pure RENAME of manifests into the main namespace:
  * no rewrite, no renumbering, and a racing main commit collides on the
  * exclusive manifest create instead of being silently overwritten.
  *
  * Isolation is the whole point: reads and writes of main never see a
  * branch; a branch read (`db.t.branch_<name>`) resolves the branch head
  * — or, before the first branch commit, the base main manifest.
  * Divergence (main advanced past the base) makes fast-forward REFUSE
  * loudly: replaying branch snapshots over commits they never saw is the
  * lost-update bug, and an automatic rebase would silently reorder
  * row-level operations. The honest sequence is branch-drop + re-fork
  * (Iceberg draws the same line: fast_forward fails unless the target is
  * an ancestor).
  */
object GraftBranch {

  val BranchesFile = "_graft_branches.txt"

  /** SQL identifier suffix: `db.t.branch_<name>` addresses branch <name>. */
  val IdentPrefix = "branch_"

  /** Branch names become file-name segments between other '_'-delimited
    * tokens, so '_' (and path/line separators) are excluded to keep the
    * manifest namespace unambiguous; all-digit names are excluded like
    * tag names (a future branch-addressable VERSION AS OF must be able
    * to tell them from versions).
    */
  def validate(name: String): Unit = {
    require(name.matches("[A-Za-z][A-Za-z0-9-]*"),
      s"branch name '$name' is invalid: use letters, digits and '-', " +
        "starting with a letter (underscores would be ambiguous inside " +
        "the manifest file namespace)")
  }

  def readAll(fs: FileSystem, dir: Path): Map[String, Long] = {
    val p = new Path(dir, BranchesFile)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    lines.filter(_.nonEmpty).flatMap { l =>
      l.split("\t", 2) match {
        case Array(n, v) => Some(n -> v.toLong)
        case _ => None
      }
    }.toMap
  }

  /** Main version the branch forked at; None = no such branch. */
  def baseOf(fs: FileSystem, dir: Path, name: String): Option[Long] =
    readAll(fs, dir).get(name)

  /** Fork `name` at main's current head. Refuses duplicates — retargeting
    * a live branch would orphan its commits silently.
    */
  def create(fs: FileSystem, dir: Path, name: String): Long = {
    validate(name)
    val all = readAll(fs, dir)
    require(!all.contains(name), s"branch '$name' already exists " +
      s"(base ${all(name)}); drop it first to re-fork")
    val base = GraftTable.manifestVersions(fs, dir).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"cannot branch: $dir has no snapshot yet (history table with " +
          "at least one commit required)"))
    write(fs, dir, all + (name -> base))
    base
  }

  /** Branch head version and whether the branch has commits of its own. */
  def head(fs: FileSystem, dir: Path, name: String): (Long, Boolean) = {
    val own = GraftTable.manifestVersions(fs, dir, Some(name))
    own.lastOption match {
      case Some(v) => (v, true)
      case None => (baseOf(fs, dir, name).getOrElse(
        throw new IllegalArgumentException(s"no branch '$name' at $dir")), false)
    }
  }

  /** Publish: main adopts every branch commit by RENAMING the branch
    * manifests (each carrying its own commit kind) into the main namespace,
    * oldest first — each rename lands an already-complete snapshot, so a
    * reader never observes a torn state and a crash mid-way leaves a
    * shorter but valid fast-forward. Refuses when main moved past the
    * fork point (divergence) or when a racing commit takes a version the
    * branch owns (the rename-as-exclusive-create collides). Returns
    * (fromVersion, toVersion) of main.
    */
  def fastForward(fs: FileSystem, dir: Path, name: String): (Long, Long) = {
    val base = baseOf(fs, dir, name).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' at $dir"))
    val mainHead = GraftTable.manifestVersions(fs, dir).last
    require(mainHead == base,
      s"fast-forward of '$name' refused: main advanced $base -> $mainHead " +
        "since the fork — replaying branch snapshots over commits they " +
        "never saw would lose them; drop the branch and re-fork")
    val own = GraftTable.manifestVersions(fs, dir, Some(name))
    if (own.isEmpty) { // nothing to publish; just retire the record
      write(fs, dir, readAll(fs, dir) - name)
      return (base, base)
    }
    own.foreach { v =>
      val src = GraftTable.manifestPath(dir, v, Some(name))
      val dst = GraftTable.manifestPath(dir, v)
      require(!fs.exists(dst),
        s"fast-forward of '$name' refused at version $v: a racing main " +
          "commit took it — the branch no longer fast-forwards cleanly")
      require(fs.rename(src, dst), s"could not install $dst")
    }
    write(fs, dir, readAll(fs, dir) - name)
    (base, own.last)
  }

  /** MULTI-TABLE PUBLISH: fast-forward the SAME branch name across N
    * tables as one two-phase operation — the cross-table consistency verb
    * a medallion pipeline needs to move bronze→silver→gold together.
    *
    * Phase 1 validates EVERY table before ANY rename: branch exists, main
    * has not diverged past the fork point, and no branch manifest version
    * is already taken on main. Any failure refuses loudly with ZERO
    * tables published. Phase 2 applies the fast-forwards in the CALLER'S
    * list order.
    *
    * Consistency contract (the fast-forward oldest-first argument,
    * generalized): list tables UPSTREAM-FIRST (sources before derived).
    * Per-table publish is atomic (exclusive manifest rename), so the only
    * observable intermediate states are PREFIXES of the list — states
    * where some sources are newer than their derived tables, which is
    * exactly the lag state every pipeline passes through between runs. A
    * reader can therefore never observe a DERIVED table's new snapshot
    * next to its SOURCE's old one. If a racing main commit lands between
    * the phases, the per-table fast-forward itself refuses at that table
    * (nothing is overwritten) and the error names the already-published
    * prefix — a valid pipeline state — and the unpublished suffix to
    * re-stage and retry.
    */
  def publishTogether(spark: org.apache.spark.sql.SparkSession,
                      loaded: Seq[(String, GraftTable)],
                      name: String): Seq[(String, Long, Long)] = {
    require(loaded.nonEmpty, "publishTogether: no tables")
    val tables = loaded.map { case (ident, t) => (ident, new Path(t.dir)) }
    val fs = tables.head._2.getFileSystem(spark.sessionState.newHadoopConf())
    // phase 1: every table must be cleanly fast-forwardable BEFORE any
    // rename — one diverged table vetoes the whole publish
    tables.foreach { case (ident, dir) =>
      val base = baseOf(fs, dir, name).getOrElse(
        throw new IllegalArgumentException(
          s"publish of '$name' refused with ZERO tables published: " +
            s"$ident has no branch '$name'"))
      val mainHead = GraftTable.manifestVersions(fs, dir).last
      require(mainHead == base,
        s"publish of '$name' refused with ZERO tables published: main of " +
          s"$ident advanced $base -> $mainHead since the fork — drop the " +
          "branch, re-fork and re-stage")
      GraftTable.manifestVersions(fs, dir, Some(name)).foreach { v =>
        require(!fs.exists(GraftTable.manifestPath(dir, v)),
          s"publish of '$name' refused with ZERO tables published: " +
            s"$ident main version $v already exists")
      }
    }
    // phase 2: apply in list order (upstream-first). A race that slipped
    // between the phases makes fastForward refuse AT its table; the
    // published prefix is a valid upstream-first pipeline state.
    val done = scala.collection.mutable.Buffer.empty[(String, Long, Long)]
    tables.foreach { case (ident, dir) =>
      try {
        val (from, to) = fastForward(fs, dir, name)
        done += ((ident, from, to))
      } catch {
        case e: Exception =>
          throw new IllegalStateException(
            s"publish of '$name' stopped at $ident: ${e.getMessage}. " +
              s"Published prefix (a valid upstream-first state): " +
              s"${done.map(_._1).mkString(", ")}; re-stage and retry the " +
              s"suffix: ${tables.map(_._1).dropWhile(t => done.exists(_._1 == t)).mkString(", ")}",
            e)
      }
    }
    done.toSeq
  }

  // --- consistency groups ---
  // A multi-table publish is only half the story: readers ALSO need the
  // coordinates of the consistent state it produced, or they are back to
  // reading mixed heads the moment the next single-table commit lands.
  // `recordGroup` writes one immutable file per publish under the
  // warehouse's `_graft_groups/` — `branch=<name>` + `table=version`
  // lines — allocated by EXCLUSIVE CREATE so racing publishes take
  // distinct ids. A reader resolves the latest (or any) group and pins
  // every table with VERSION AS OF — a cross-table-consistent read that
  // stays correct while heads move on. The record is written AFTER the
  // last fast-forward: a crash in between loses only the record (the
  // publish itself is valid; readers keep the previous group — staler
  // but still consistent). Long-lived groups should tag their versions:
  // vacuum pins tags, not group files.

  val GroupsDirName = "_graft_groups"
  private val GroupRe = """group-(\d+)\.txt""".r

  private def groupPath(wh: Path, id: Long) =
    new Path(new Path(wh, GroupsDirName), f"group-$id%08d.txt")

  /** All recorded groups, oldest first: (id, branch, (table, version)*). */
  def readGroups(fs: FileSystem,
                 wh: Path): Seq[(Long, String, Seq[(String, Long)])] = {
    val d = new Path(wh, GroupsDirName)
    if (!fs.exists(d)) return Nil
    fs.listStatus(d).toSeq.flatMap { st =>
      st.getPath.getName match {
        case GroupRe(id) =>
          val in = fs.open(st.getPath)
          val lines =
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
            finally in.close()
          val branch = lines.collectFirst {
            case l if l.startsWith("branch=") => l.stripPrefix("branch=")
          }.getOrElse("")
          val tables = lines.filterNot(_.startsWith("branch="))
            .flatMap(_.split("=", 2) match {
              case Array(t, v) => Some(t -> v.toLong)
              case _ => None
            })
          Some((id.toLong, branch, tables))
        case _ => None
      }
    }.sortBy(_._1)
  }

  private def groupContent(branch: String,
                           tables: Seq[(String, Long)]): String =
    (s"branch=$branch" +: tables.map { case (t, v) => s"$t=$v" })
      .mkString("\n")

  /** Install a group file with a KNOWN id at `root` (mirror / export
    * sites re-advertising a source group): byte-equal existing files are
    * left alone, otherwise the content lands via tmp + rename so a
    * concurrent reader never parses a truncated coordinate line. ONE
    * serialization (shared with [[recordGroup]]) — the readers' parser
    * has a single writer format to track.
    */
  def installGroupFile(fs: FileSystem, root: Path, id: Long, branch: String,
                       tables: Seq[(String, Long)]): Unit = {
    val d = new Path(root, GroupsDirName)
    if (!fs.exists(d)) fs.mkdirs(d)
    val target = new Path(d, f"group-$id%08d.txt")
    val bytes = groupContent(branch, tables).getBytes(UTF_8)
    if (fs.exists(target)) {
      val in = fs.open(target)
      val existing =
        try org.apache.hadoop.io.IOUtils.readFullyToByteArray(
          new java.io.DataInputStream(in))
        finally in.close()
      if (java.util.Arrays.equals(existing, bytes)) return
      fs.delete(target, false)
    }
    val tmp = new Path(d, s".tmp-group-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    require(fs.rename(tmp, target), s"could not install $target")
  }

  /** Record one publish's consistent coordinates; returns the group id. */
  def recordGroup(fs: FileSystem, wh: Path, branch: String,
                  published: Seq[(String, Long)]): Long = {
    val d = new Path(wh, GroupsDirName)
    if (!fs.exists(d)) fs.mkdirs(d)
    val content = groupContent(branch, published)
    var id = readGroups(fs, wh).lastOption.map(_._1).getOrElse(0L) + 1
    var attempts = 0
    // id allocation serializes on the SAME pluggable atomic primitive as
    // manifest commits (GraftCommitPrimitive): on the local filesystem a
    // raw create(overwrite=false) is check-then-open — two racing
    // publishes could both pass the check and clobber each other's
    // coordinates — and on object stores the primitive is a conditional
    // PUT. Only a genuine ALREADY-EXISTS advances the id; any other IO
    // failure (permissions, disk) stays loud immediately.
    while (true) {
      try {
        GraftCommitPrimitive.forFs(fs).commit(fs, groupPath(wh, id),
          content.getBytes(UTF_8))
        return id
      } catch {
        case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
          attempts += 1
          require(attempts < 100,
            s"recordGroup: cannot allocate a group id at $d: ${e.getMessage}")
          id += 1 // a racing publish took it
        case e: java.io.IOException if fs.exists(groupPath(wh, id)) =>
          // an FS whose exclusive create signals an existing file with a
          // plain IOException (older/third-party Hadoop impls permit it):
          // the id IS taken — same benign race, advance; anything else
          // (permissions, disk) fell through and stays loud
          attempts += 1
          require(attempts < 100,
            s"recordGroup: cannot allocate a group id at $d: ${e.getMessage}")
          id += 1
      }
    }
    id // unreachable
  }

  /** GROUP ROLLBACK — the undo of a bad release: restore EVERY table of
    * a recorded group to its group version, in REVERSE list order. The
    * ordering argument is publish's, mirrored: the group lists tables
    * upstream-first, so rolling back DERIVED-FIRST means every
    * observable intermediate state has sources at-or-ahead-of their
    * derived tables (the ordinary lag state) — never a source rolled
    * back under a derived table still serving data built from the
    * now-retracted commits. Each per-table restore is an ordinary
    * kind=restore COMMIT (history intact, time travel to the bad state
    * still works, the changes feed shows the retraction); tables already
    * AT their group version are skipped. Returns (table, restored_to,
    * new_version) per table, reverse order — new_version == the
    * unchanged head for skipped tables.
    */
  def rollbackGroup(spark: org.apache.spark.sql.SparkSession,
                    tables: Seq[(String, GraftTable, Long)]): Seq[(String, Long, Long)] =
    tables.reverse.map { case (ident, t, v) =>
      val dir = new Path(t.dir)
      // per-table FS: a group may span registered external tables on
      // other filesystems
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val head = GraftTable.manifestVersions(fs, dir).last
      // skip on CONTENT, not version number: the head after a previous
      // rollback is a restore commit whose entries already equal the
      // group state — re-restoring would mint no-op commits forever
      val current = GraftTable.readFullEntries(fs, dir, head)
      if (head == v || current == GraftTable.readFullEntries(fs, dir, v))
        (ident, v, head)
      else (ident, v, GraftMaintenance.restore(spark, t, v))
    }

  /** CHERRY-PICK: publish a branch whose commits are ALL pure APPENDS
    * onto a main that has moved past the fork point — the case
    * fast-forward rightly refuses but that actually commutes: additive
    * commits don't depend on the snapshot they were planned against, so
    * re-applying the branch's NET new files onto the current head is
    * exactly the serial outcome (the same argument commitRetrying's
    * append retry rests on). Any non-append branch commit (replace/
    * delta/overwrite/eqdelta — snapshot-derived row-level state) refuses
    * loudly; identity-allocating branches refuse too (their values were
    * allocated against the fork-point watermark — main may have moved
    * it). Commits once (one append of the branch's net additions), then
    * drops the branch record and namespace; the staged files are already
    * in the table dir, so this is metadata-only. Returns (files
    * published, main version committed).
    */
  def cherryPick(fs: FileSystem, dir: Path, name: String): (Int, Long) = {
    val base = baseOf(fs, dir, name).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' at $dir"))
    val own = GraftTable.manifestVersions(fs, dir, Some(name))
    own.foreach { v =>
      val kind = GraftTable.commitKind(fs, dir, v, Some(name))
      require(kind.contains(GraftTable.KindAppend),
        s"cherry-pick of '$name' refused: branch commit $v is " +
          s"${kind.getOrElse("unknown")} — only pure APPENDS commute " +
          "with a moved main (row-level commits were planned against " +
          "the fork snapshot); fast-forward before main moves, or drop " +
          "and re-fork")
      require(!GraftTable.manifestMeta(fs, dir, v, Some(name)).keys
          .exists(_.startsWith("idwm:")),
        s"cherry-pick of '$name' refused: branch commit $v allocated " +
          "identity values against the fork-point watermark — main may " +
          "have moved it; drop and re-fork")
    }
    if (own.isEmpty) { write(fs, dir, readAll(fs, dir) - name); return (0, -1L) }
    // net additions = head entries minus the fork-point snapshot
    val headEntries = GraftTable.readFullEntries(fs, dir, own.last, Some(name))
    val baseFiles =
      (if (base == 0L) Nil else GraftTable.readManifest(fs, dir, base)).toSet
    val added = headEntries.filterNot(e => baseFiles.contains(e.file))
    require(added.forall(e => e.dv.isEmpty && e.eqs.isEmpty),
      s"cherry-pick of '$name': appended entries carry row-level masks")
    val cv = GraftTable.commitRetrying(fs, dir,
      meta = GraftTable.kindMeta(GraftTable.KindAppend)) { head =>
      val have = head.entries.map(_.file).toSet
      head.entries ++ added.filterNot(e => have.contains(e.file))
    }
    own.foreach(v =>
      fs.delete(GraftTable.manifestPath(dir, v, Some(name)), false))
    write(fs, dir, readAll(fs, dir) - name)
    (added.size, cv)
  }

  /** Drop the branch: its manifests go, and data files / sidecars
    * referenced ONLY by this branch (not by any main manifest or any
    * other branch) are deleted with their stats/bloom entries — staged
    * bytes don't outlive the decision to walk away. Returns
    * (manifests dropped, data files reclaimed).
    */
  def drop(fs: FileSystem, dir: Path, name: String): (Int, Int) = {
    val all = readAll(fs, dir)
    require(all.contains(name), s"no branch '$name' at $dir")
    val own = GraftTable.manifestVersions(fs, dir, Some(name))
    def names(vs: Seq[Long], b: Option[String]): Set[String] =
      vs.flatMap(GraftTable.readFullEntries(fs, dir, _, b))
        .flatMap(e => e.file +: (e.dv.toSeq ++ e.eqs))
        .map(new Path(_).getName).toSet
    val mine = names(own, Some(name))
    val keptElsewhere =
      names(GraftTable.manifestVersions(fs, dir), None) ++
        (all.keySet - name).flatMap(b =>
          names(GraftTable.manifestVersions(fs, dir, Some(b)), Some(b)))
    val reclaim = mine -- keptElsewhere
    // walk the table dir for the doomed names (they may sit in partition
    // subdirs); branch layouts mirror the table's
    if (reclaim.nonEmpty) {
      def sweep(p: Path): Unit = fs.listStatus(p).foreach { st =>
        if (st.isDirectory && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith(".")) sweep(st.getPath)
        else if (st.isFile && reclaim.contains(st.getPath.getName))
          fs.delete(st.getPath, false)
      }
      sweep(dir)
      GraftStats.retain(fs, dir, n => !reclaim.contains(n))
      GraftBloom.retain(fs, dir, n => !reclaim.contains(n))
    }
    own.foreach(v =>
      fs.delete(GraftTable.manifestPath(dir, v, Some(name)), false))
    write(fs, dir, all - name)
    (own.size, reclaim.size)
  }

  /** Every (file/DV/eq-sidecar name, segment name) any live branch
    * references — vacuum and orphan cleanup must treat these as live, or
    * expiring a main snapshot could tear the branches forked from it.
    */
  def referencedByBranches(fs: FileSystem, dir: Path): (Set[String], Set[String]) = {
    val all = readAll(fs, dir)
    if (all.isEmpty) return (Set.empty, Set.empty)
    val files = scala.collection.mutable.Set.empty[String]
    val segs = scala.collection.mutable.Set.empty[String]
    all.foreach { case (b, base) =>
      val vs = GraftTable.manifestVersions(fs, dir, Some(b)) :+ base
      vs.distinct.foreach { v =>
        val branchNs = if (v == base) None else Some(b)
        GraftTable.readFullEntries(fs, dir, v, branchNs).foreach { e =>
          files += new Path(e.file).getName
          e.dv.foreach(d => files += new Path(d).getName)
          e.eqs.foreach(q => files += new Path(q).getName)
        }
        segs ++= GraftTable.segmentRefs(fs, dir, v, branchNs)
      }
    }
    (files.toSet, segs.toSet)
  }

  private def write(fs: FileSystem, dir: Path, branches: Map[String, Long]): Unit = {
    val target = new Path(dir, BranchesFile)
    if (branches.isEmpty) { fs.delete(target, false); return }
    val bytes = branches.toSeq.sorted.map { case (n, v) => s"$n\t$v" }
      .mkString("\n").getBytes(UTF_8)
    val tmp = new Path(dir, s".tmp-branches-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (!fs.rename(tmp, target)) {
      fs.delete(target, false)
      require(fs.rename(tmp, target), s"could not install $target")
    }
  }
}
