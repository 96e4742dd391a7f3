package graft.sources

import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** THE PER-FILE METADATA LOG — storage of the two side logs a data file's
  * metadata lives in beside the manifest:
  *  - `_graft_filestats/stats-*.txt`: one [[GraftStats]] line per data
  *    file (size, rows, per-column bounds and sketches);
  *  - `_graft_bloom/bloom-*.txt`: one [[GraftBloom]] line per (data file,
  *    column) filter, value blooms and trigram blooms alike.
  *
  * Both logs have one shape, owned here: append-only files named
  * `<prefix><13-digit millis>-<8 uuid chars>.txt`, uuid-named so
  * concurrent committers cannot lose each other's entries, holding
  * tab-separated lines whose leading URL-encoded fields key the entry
  * (the data-file NAME — uuid-unique for the file's lifetime — plus, for
  * blooms, the column). Name order is apply order and the last line per
  * key wins, so a re-lift of an in-place rewrite supersedes its stale
  * entry. Each lifecycle event is one call covering both logs:
  * [[publish]] at landing, [[retain]] where data files are destroyed,
  * [[renameColumn]] at RENAME COLUMN, and [[liftLanded]] after a rewrite
  * lands files that no writer tracked.
  */
object GraftFileLog {

  /** One of the two logs: its directory, file-name prefix and the number
    * of leading fields that key an entry.
    */
  final class Log private[GraftFileLog] (val dirName: String, prefix: String,
                                         keyFields: Int) {
    private[GraftFileLog] def freshName: String =
      f"$prefix${System.currentTimeMillis()}%013d-" +
        s"${UUID.randomUUID().toString.take(8)}.txt"

    private[GraftFileLog] def keyOf(line: String): Option[List[String]] = {
      val parts = line.split("\t", keyFields + 1)
      if (parts.length <= keyFields) None
      else Some(parts.take(keyFields).map(dec).toList)
    }
  }

  val Stats = new Log("_graft_filestats", "stats-", 1)
  val Bloom = new Log("_graft_bloom", "bloom-", 2)
  private val Logs = Seq(Stats, Bloom)

  /** Consolidation threshold: same amortized policy as the manifest's
    * segment compaction (MaxSegments) — a year of streaming ingest is
    * 10⁴-10⁵ commits, and scan PLANNING reads these logs, so each must
    * stay O(segments), not O(commits).
    */
  private[sources] val MaxFiles = 32

  private def dec(s: String): String = URLDecoder.decode(s, "UTF-8")

  private def logDir(dir: Path, log: Log) = new Path(dir, log.dirName)

  private def listFiles(fs: FileSystem, d: Path): Seq[Path] =
    fs.listStatus(d).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".txt"))
      .map(_.getPath).sortBy(_.getName)

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** The one place a log file is created. */
  private def create(fs: FileSystem, d: Path, name: String,
                     lines: Seq[String]): Unit = {
    val out = fs.create(new Path(d, name), false)
    try out.write(lines.mkString("\n").getBytes(UTF_8))
    finally out.close()
  }

  /** The last line per key, in key order: a consolidated log. */
  private def latest(log: Log, lines: Seq[String]): Seq[String] =
    lines.flatMap(l => log.keyOf(l).map(_ -> l)).toMap.toSeq
      .sortBy(_._1)(Ordering.Implicits.seqOrdering[List, String]).map(_._2)

  /** Append one file of `lines` (no-op on empty). When the log reaches
    * [[MaxFiles]] files, the append first folds them into ONE
    * consolidated file — amortized O(live entries) — keeping every later
    * scan's planning at a bounded number of metadata reads. The
    * consolidated file takes the newest consumed file's name plus a
    * suffix that sorts directly after it, so entries landed concurrently
    * (strictly newer names) still win.
    */
  private def append(fs: FileSystem, dir: Path, log: Log,
                     lines: Seq[String]): Unit = {
    if (lines.isEmpty) return
    val d = logDir(dir, log)
    fs.mkdirs(d)
    val existing = listFiles(fs, d)
    if (existing.size >= MaxFiles) {
      // 'c' > '.' byte-wise: sorts after the newest consumed file, before
      // any strictly-newer timestamped append
      create(fs, d, existing.last.getName.stripSuffix(".txt") + "c.txt",
        latest(log, existing.flatMap(readLines(fs, _))))
      existing.foreach(fs.delete(_, false))
    }
    create(fs, d, log.freshName, lines)
  }

  /** Rewrite a whole log as one consolidated file of `f(latest lines)`;
    * an empty result removes the log's directory when `dropEmpty`.
    */
  private def rewrite(fs: FileSystem, dir: Path, log: Log, dropEmpty: Boolean)(
      f: Seq[String] => Seq[String]): Unit = {
    val d = logDir(dir, log)
    if (!fs.exists(d)) return
    val old = listFiles(fs, d)
    val kept = f(latest(log, old.flatMap(readLines(fs, _))))
    if (kept.nonEmpty) create(fs, d, log.freshName, kept)
    old.foreach(fs.delete(_, false))
    if (kept.isEmpty && dropEmpty) fs.delete(d, true)
  }

  /** The log's lines in apply order whose data-file name passes `live`:
    * a history table's log keeps the entries of every file it ever had,
    * and decoding their sketches or filters would make a scan's planning
    * grow with the history, so dead entries are skipped undecoded.
    */
  private def lines(fs: FileSystem, dir: Path, log: Log,
                    live: String => Boolean): Seq[String] = {
    val d = logDir(dir, log)
    if (!fs.exists(d)) return Nil
    listFiles(fs, d).flatMap(readLines(fs, _)).filter { l =>
      val tab = l.indexOf('\t')
      tab >= 0 && live(dec(l.substring(0, tab)))
    }
  }

  /** Recorded stats keyed by data-file name, of the files passing `live`. */
  def stats(fs: FileSystem, dir: Path,
            live: String => Boolean = _ => true): Map[String, GraftStats.FileStats] =
    lines(fs, dir, Stats, live).flatMap(GraftStats.decodeLine).toMap

  /** Recorded filters keyed by (data-file name, column key), of the files
    * passing `live`. Raw bytes — deserialized lazily per planning decision.
    */
  def blooms(fs: FileSystem, dir: Path,
             live: String => Boolean = _ => true): Map[(String, String), Array[Byte]] =
    lines(fs, dir, Bloom, live).flatMap(GraftBloom.decodeLine).toMap

  /** Publish landed files' entries: stats keyed by data-file name, and
    * (file name, column key, serialized filter) index entries. Each log
    * appends one file; an empty side touches nothing.
    */
  def publish(fs: FileSystem, dir: Path,
              stats: Seq[(String, GraftStats.FileStats)],
              indexes: Seq[(String, String, Array[Byte])]): Unit = {
    append(fs, dir, Stats, stats.map { case (n, st) => GraftStats.encodeLine(n, st) })
    append(fs, dir, Bloom, indexes.map { case (f, c, b) => GraftBloom.encodeLine(f, c, b) })
  }

  /** Drop the entries of data files whose name fails `live`, consolidating
    * each log to one file. Called where data files are DESTROYED (COW
    * replace, truncate, vacuum, purge): stats hold real data values and
    * filters answer membership of them, so an erasure of the bytes must
    * erase both — and the consolidation keeps each log O(live files).
    */
  def retain(fs: FileSystem, dir: Path, live: String => Boolean): Unit =
    Logs.foreach(log => rewrite(fs, dir, log, dropEmpty = true)(
      _.filter(l => live(log.keyOf(l).get.head))))

  /** Re-key one column across both logs (RENAME COLUMN): bounds and bloom
    * bits are of name-independent canonical values, so the rewrite is a
    * pure metadata re-label that stays bit-for-bit valid.
    */
  def renameColumn(fs: FileSystem, dir: Path, from: String, to: String): Unit = {
    rewrite(fs, dir, Stats, dropEmpty = false)(_.flatMap(GraftStats.decodeLine)
      .map { case (n, st) =>
        GraftStats.encodeLine(n, st.copy(cols = st.cols.map {
          case (c, cs) if c == from => to -> cs
          case other => other
        }))
      })
    rewrite(fs, dir, Bloom, dropEmpty = false)(_.flatMap(GraftBloom.decodeLine)
      .map { case ((f, c), bytes) =>
        val key =
          if (c == from) to
          else if (c == from + GraftBloom.TrgmSuffix) to + GraftBloom.TrgmSuffix
          else c
        GraftBloom.encodeLine(f, key, bytes)
      })
  }

  /** The post-landing step of a rewrite whose output went through Spark's
    * parquet writer (no in-loop trackers): ONE distributed job lifts each
    * landed file's stats from its footer (`schema`) and builds the
    * table's declared bloom and trigram entries, then publishes both, so
    * the new files prune from the logs on the very next scan.
    */
  def liftLanded(spark: SparkSession, table: GraftTable, landed: Seq[String],
                 schema: => StructType): Unit = {
    if (landed.isEmpty) return
    val (bloomCols, trgmCols) = table.indexOnWriteCols
    val (stats, indexes) =
      describe(spark, table, landed, Some(schema), bloomCols, trgmCols)
    val dir = new Path(table.dir)
    publish(dir.getFileSystem(spark.sessionState.newHadoopConf()), dir,
      stats, indexes)
  }

  /** ONE distributed job over `files`: per file, its footer stats when
    * `lift` names the footer schema, and its bloom (`bloomCols`) and
    * trigram (`trgmCols`) entries from one column-pruned read through a
    * [[GraftBloom.WriteTracker]] — the writer's own per-row loop — sized
    * by the file's row count (the lifted one, else the stats log's).
    * Files are read through the table's alias resolution, so a pre-rename
    * file's bits land under the CURRENT column key. Returns the stats and
    * index entries keyed by data-file name.
    */
  private[sources] def describe(spark: SparkSession, table: GraftTable,
                                files: Seq[String], lift: Option[StructType],
                                bloomCols: Seq[String], trgmCols: Seq[String])
      : (Seq[(String, GraftStats.FileStats)], Seq[(String, String, Array[Byte])]) = {
    if (files.isEmpty) return (Nil, Nil)
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val indexed = bloomCols.nonEmpty || trgmCols.nonEmpty
    val readSchema = StructType((bloomCols ++ trgmCols).distinct.map(c =>
      table.schema().fields.find(_.name == c).get))
    val aliases = table.aliases
    // expected insertions from the stats log when not lifting (a safe
    // default for files it lacks: the fpp degrades gracefully if exceeded)
    val rowsByName: Map[String, Long] =
      if (!indexed || lift.nonEmpty) Map.empty
      else {
        val dir = new Path(table.dir)
        stats(dir.getFileSystem(conf.value), dir).map { case (n, st) => n -> st.rows }
      }
    val built = spark.sparkContext
      .parallelize(files, GraftMaintenance.parallelism(spark, files.size))
      .map { f =>
        val p = new Path(f)
        val st = lift.map(GraftStats.fromFooter(p, conf.value, _))
        val entries =
          if (!indexed) Nil
          else {
            val rows = st.map(_.rows).orElse(rowsByName.get(p.getName))
              .getOrElse(1000000L)
            val tracker = new GraftBloom.WriteTracker(readSchema, bloomCols,
              trgmCols, math.max(1000L, rows))
            val reader = ParquetRowIO.reader(p, conf.readConf(readSchema), None, aliases)
            try {
              var r = reader.read()
              while (r != null) {
                tracker.update(r)
                r = reader.read()
              }
            } finally reader.close()
            tracker.result()
          }
        (p.getName, st, entries)
      }
      .collect().toSeq
    (built.flatMap { case (n, st, _) => st.map(n -> _) },
      built.flatMap { case (n, _, es) => es.map { case (c, b) => (n, c, b) } })
  }
}
