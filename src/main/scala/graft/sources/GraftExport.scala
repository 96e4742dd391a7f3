package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Open-format SNAPSHOT EXPORT (Delta's `GENERATE symlink_format_manifest`,
  * Iceberg's "register the file list elsewhere"): write, for one PINNED
  * snapshot, the Hive symlink-manifest layout any external engine
  * (Trino/Presto/Athena/DuckDB/plain `spark.read.parquet`) can consume
  * with ZERO graft code on the read path —
  *
  *   dest/schema.json                          table schema (Spark JSON)
  *   dest/_graft_export.txt                    table, version, file count
  *   dest/<k>=<v>/.../manifest                 one absolute data-file path
  *   dest/manifest                             per line (flat tables: root)
  *
  * The export is METADATA-ONLY (KB-scale, zero data bytes moved — the
  * paths point INTO the table) and version-pinned: history data files are
  * immutable, so the export stays exactly right until vacuum retires the
  * snapshot — hold it with a tag (`graft_tag`) for long-lived exports,
  * the same contract shallow clones live under.
  *
  * Refusal matrix (loud, because every one of these would make the
  * external reader serve WRONG ROWS with no error):
  *  - any entry carrying a DV or equality-delete mask — a raw parquet
  *    reader would resurrect deleted rows; `graft_compact` /
  *    materializeDeletes folds the masks first;
  *  - non-history tables (no snapshot to pin — the listing mutates);
  *  - columns with EXISTENCE DEFAULTS whose files predate the column —
  *    external engines NULL-fill missing columns, silently diverging
  *    from the declared default (export after a rewrite materializes it).
  *
  * Partitioned layouts keep their `col=value` directory nesting in the
  * manifest tree (the Hive convention), so engines that understand
  * symlink manifests prune partitions exactly as they would on a native
  * Hive table. At 100 TB the export cost is O(files) driver metadata —
  * the same order as planning one scan of the snapshot.
  */
object GraftExport {

  /** Returns (files exported, partition dirs written, pinned version) —
    * the version comes from HERE, not from a re-read of the head, so a
    * racing commit can never make the caller record a pin the export
    * does not actually contain.
    */
  def exportSnapshot(spark: SparkSession, t: GraftTable, destDir: String,
                     version: Option[Long] = None): (Int, Int, Long) = {
    val srcDir = t.dir
    val src = new Path(srcDir)
    val dest = new Path(destDir)
    // the export's headline use case is INTEROP — table on one store, the
    // symlink tree on another (hdfs -> s3a/file) — so each side resolves
    // its OWN FileSystem; one shared handle would throw Hadoop's
    // "Wrong FS" the moment the schemes differ
    val conf = spark.sessionState.newHadoopConf()
    val fs = src.getFileSystem(conf)
    val dstFs = dest.getFileSystem(conf)
    require(t.history,
      s"graft_export: $srcDir is not a history table — an export pins a " +
        "SNAPSHOT, which plain directory-listing tables don't have")
    val v = version.getOrElse(
      GraftTable.manifestVersions(fs, src).lastOption.getOrElse(0L))
    require(v > 0, s"graft_export: $srcDir has no snapshot")
    val entries = GraftTable.readFullEntries(fs, src, v)
    val masked = entries.filter(e => e.dv.nonEmpty || e.eqs.nonEmpty)
    require(masked.isEmpty,
      s"graft_export: version $v carries ${masked.size} row-masked " +
        "file(s) (DV / equality deletes) — a raw parquet reader would " +
        "RESURRECT deleted rows; run graft_compact to fold the masks, " +
        "then export")
    val schema = t.schema()
    // existence-default hazard: files written before a defaulted column
    // existed read as NULL outside graft, not as the declared default
    val defaulted = schema.fields.filter(f =>
      f.metadata.contains("EXISTS_DEFAULT"))
    if (defaulted.nonEmpty) {
      val names = defaulted.map(_.name).toSet
      // a file predates the column iff its parquet footer lacks it — but
      // footer probes are exactly what an export should not do; the
      // manifest-lifted stats log records per-file columns, so absence of
      // ANY stats row for a defaulted column in ANY file is the
      // conservative refusal signal
      val stats = GraftStats.readAll(fs, src)
      val stale = entries.exists { e =>
        stats.get(new Path(e.file).getName) match {
          case Some(st) => !names.subsetOf(st.cols.keySet)
          case None => true
        }
      }
      require(!stale,
        s"graft_export: column(s) ${names.mkString(", ")} carry existence " +
          "defaults that predate some exported files — external engines " +
          "would NULL-fill them; rewrite (graft_compact) first")
    }

    def relDir(f: String): String = {
      val rel = GraftTable.relativize(src, new Path(f))
      require(!rel.startsWith("/"),
        s"graft_export: $f is a foreign reference (shallow clone) — " +
          "deep-clone first, then export")
      rel.split('/').dropRight(1).filter(_.contains("=")).mkString("/")
    }

    if (dstFs.exists(dest)) dstFs.delete(dest, true) // re-export replaces
    dstFs.mkdirs(dest)
    val byPart = entries.groupBy(e => relDir(e.file))
    byPart.foreach { case (part, es) =>
      val d = if (part.isEmpty) dest else new Path(dest, part)
      if (!dstFs.exists(d)) dstFs.mkdirs(d)
      val out = dstFs.create(new Path(d, "manifest"), true)
      // paths are qualified against the SOURCE filesystem — they point
      // into the table, and the external reader needs the full scheme to
      // reach across stores
      try out.write(es.map(e => fs.makeQualified(new Path(e.file)).toString)
        .sorted.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
    val sout = dstFs.create(new Path(dest, "schema.json"), true)
    try sout.write(schema.json.getBytes("UTF-8")) finally sout.close()
    val mout = dstFs.create(new Path(dest, "_graft_export.txt"), true)
    try mout.write(
      s"table=$srcDir\nversion=$v\nfiles=${entries.size}\n".getBytes("UTF-8"))
    finally mout.close()
    (entries.size, byPart.size, v)
  }

  /** GROUP EXPORT — the interop face of consistency groups: symlink-
    * manifest trees for EVERY table of one publish group, each pinned at
    * its group version, under `destRoot/<ns>/<table>`, with the group's
    * coordinate file installed LAST (`_graft_groups/`) — external
    * engines get a CROSS-TABLE-CONSISTENT read set (the exact state the
    * pipeline released), and a consumer that checks the marker first
    * never reads a half-written export. Per-table refusals (DV masks,
    * stale defaults, foreign refs) abort before the marker lands; the
    * error names the failed table and the partial tree is simply
    * re-exported on retry (exports are replace-on-write).
    */
  def exportGroup(spark: SparkSession, destRoot: String, groupId: Long,
                  branch: String,
                  tables: Seq[(String, GraftTable, Long)]): Seq[(String, Int, Int)] = {
    val dest = new Path(destRoot)
    val fs = dest.getFileSystem(spark.sessionState.newHadoopConf())
    val reports = tables.map { case (ident, t, v) =>
      val sub = ident.split('.').foldLeft(dest)(new Path(_, _))
      val (files, parts, _) =
        try exportSnapshot(spark, t, sub.toString, Some(v))
        catch {
          case e: Exception => throw new IllegalStateException(
            s"graft_export_group: export of $ident failed — no group " +
              s"marker was written (consumers see nothing): ${e.getMessage}",
            e)
        }
      (ident, files, parts)
    }
    GraftBranch.installGroupFile(fs, dest, groupId, branch,
      tables.map { case (t, _, v) => (t, v) })
    reports
  }

  /** Every data-file path listed by an export (the external reader's
    * contract: concat the manifests, read the parquet).
    */
  def manifestPaths(fs: FileSystem, destDir: Path): Seq[String] = {
    def walk(d: Path): Seq[Path] =
      fs.listStatus(d).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName == "manifest") Seq(st.getPath)
        else Nil
      }
    walk(destDir).flatMap { p =>
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }.filter(_.nonEmpty).sorted
  }
}
