package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Table CLONES (Delta's CLONE verb): a new table whose first snapshot is
  * the source's current snapshot.
  *
  *  - SHALLOW: the clone's manifest references the SOURCE's data files
  *    (and DV/equality sidecars) by absolute path — ZERO bytes copied,
  *    the clone is writable immediately, and writes/deletes/compactions
  *    on the clone never touch source bytes (COW rewrites land IN the
  *    clone dir; the source file just stops being referenced). The
  *    100 TB dev-table idiom: branch-off-for-experiments without a
  *    100 TB copy. THE documented hazard (Delta has the same one):
  *    VACUUM/PURGE on the SOURCE can destroy files a shallow clone still
  *    references — clones hold no back-pointers; deep-clone or re-clone
  *    before retiring source snapshots.
  *  - DEEP: data files and sidecars are COPIED into the clone dir by one
  *    distributed job (at real scale this is the distcp-shaped bulk op);
  *    the clone is then fully self-contained.
  *
  * Both copy the source's schema, layout, constraints and
  * identity/generated specs (and the identity WATERMARK — generated keys
  * on the clone continue past the source's, so a later merge-back
  * cannot collide), and lift the source's per-file stats entries so
  * pruning/aggregate-pushdown/CBO work on the clone from birth (bloom
  * indexes are NOT copied — `graft_bloom_build` rebuilds them on
  * demand). Sources must be history tables (the clone pins their
  * CURRENT snapshot; a plain table's listing mutates underneath).
  */
object GraftClone {

  /** Returns (files referenced/copied, bytes copied — 0 for shallow). */
  def clone(spark: SparkSession, t: GraftTable, dstDir: String,
            shallow: Boolean): (Int, Long) = {
    val src = new Path(t.dir)
    val dst = new Path(dstDir)
    // a registered source may live on another filesystem than the clone
    val conf = spark.sessionState.newHadoopConf()
    val fs = src.getFileSystem(conf)
    val dstFs = dst.getFileSystem(conf)
    require(t.history,
      s"graft_clone: ${t.dir} is not a history table — a clone pins a " +
        "SNAPSHOT, which plain directory-listing tables don't have")
    require(!dstFs.exists(new Path(dst, GraftTable.MetaFile)),
      s"graft_clone: $dstDir already is a table")
    val head = GraftTable.readHead(fs, src, None)
    val (v, entries) = (head.version, head.entries)
    require(v > 0, s"graft_clone: ${t.dir} has no snapshot")
    dstFs.mkdirs(dst)
    val out = dstFs.create(new Path(dst, GraftTable.MetaFile), true)
    try out.write(t.schema().json.getBytes("UTF-8")) finally out.close()
    GraftTable.writeProps(dstFs, dst, t.props)
    // Destination subpath of a source file. Partitioned layouts live in
    // the PATH (col=value/, ts_day=N/ segments — parsePartValues reads
    // them back), so a deep copy must preserve the source-relative
    // subpath, not flatten to the file name. Foreign absolute entries
    // (the source is itself a shallow clone) keep exactly their k=v
    // segments + name — the layout information the reader needs.
    def subpath(f: String): String = {
      val rel = GraftTable.relativize(src, new Path(f))
      if (!rel.startsWith("/")) rel
      else {
        val parts = rel.split('/')
        (parts.dropRight(1).filter(_.contains("=")) :+ parts.last)
          .mkString("/")
      }
    }
    val cloned: Seq[GraftTable.GraftEntry] =
      if (shallow) entries // absolute foreign paths survive entryLine
      else {
        // ONE distributed copy job over data files + sidecars
        val pairs = entries.flatMap(e =>
          (e.file +: (e.dv.toSeq ++ e.eqs)).map { f =>
            (f, new Path(dst, subpath(f)).toString)
          })
        val sconf = new SerializableHadoopConf(conf)
        spark.sparkContext
          .parallelize(pairs, GraftMaintenance.parallelism(spark, pairs.size))
          .foreach { case (from, to) =>
            val (p, q) = (new Path(from), new Path(to))
            org.apache.hadoop.fs.FileUtil.copy(p.getFileSystem(sconf.value), p,
              q.getFileSystem(sconf.value), q, false, sconf.value)
          }
        entries.map { e =>
          def local(f: String) = new Path(dst, subpath(f)).toString
          GraftTable.GraftEntry(local(e.file), e.dv.map(local),
            e.eqs.map(local))
        }
      }
    // identity watermark + any txn markers ride into the clone's first
    // manifest, so generated keys continue past the source's
    val carried = head.meta.filter(kv => kv._1.startsWith("idwm:"))
    GraftTable.commitRetrying(dstFs, dst,
        meta = carried ++ GraftTable.kindMeta(GraftTable.KindAppend))(
      GraftTable.pinnedAt(dstDir, 0L)(cloned))
    // lift the source's stats for the referenced files (names are
    // uuid-unique — keys stay valid whether referenced or copied)
    val srcStats = GraftStats.readAll(fs, src)
    val names = entries.map(e => new Path(e.file).getName)
    GraftStats.writeCommitStats(dstFs, dst,
      names.flatMap(n => srcStats.get(n).map(n -> _)))
    val bytes =
      if (shallow) 0L
      else entries.map(e =>
        dstFs.getFileStatus(new Path(dst, subpath(e.file))).getLen).sum
    (entries.size, bytes)
  }
}
