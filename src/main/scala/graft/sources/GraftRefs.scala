package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}

/** Named snapshot references (TAGS) for history tables — Iceberg's
  * tags/refs surface: a ref maps a stable NAME to a manifest version, so
  * "the snapshot we trained v3 on" or "pre-restatement" is addressable
  * long after version numbers have moved on.
  *
  *  - `VERSION AS OF 'name'` resolves through the refs file
  *    (GraftCatalog.loadTable's string overload: numbers are versions,
  *    anything else is a ref).
  *  - vacuum PROTECTS tagged snapshots: a tagged manifest and the files
  *    it references survive any retention window until the tag is
  *    dropped — retention by meaning, not by count.
  *  - restore accepts a ref name anywhere it accepts a version.
  *
  * Storage: one `_graft_refs.txt` at the table root (`name\tversion`
  * lines). Updates go through the same temp-file + atomic-swap the
  * manifest commit uses; refs are metadata-only and tiny.
  */
object GraftRefs {

  val RefsFile = "_graft_refs.txt"

  /** Ref names must not collide with numeric versions (the string
    * overload dispatches on that) and must survive the line format.
    */
  def validate(name: String): Unit = {
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"ref name '$name' is invalid: an all-digit name would be " +
        "indistinguishable from a version number in VERSION AS OF")
    require(!name.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"ref name must not contain tab/newline characters")
  }

  def readAll(fs: FileSystem, dir: Path): Map[String, Long] =
    readMap(fs, new Path(dir, RefsFile))

  def resolve(fs: FileSystem, dir: Path, name: String): Option[Long] =
    readAll(fs, dir).get(name)

  /** `s` as a manifest version number, else as a tag of the table at
    * `dir` (the one parse behind VERSION AS OF, restore and export);
    * refuses with `what` and the table's tags.
    */
  def versionOf(fs: FileSystem, dir: Path, s: String, what: String): Long =
    try s.toLong catch {
      case _: NumberFormatException =>
        val refs = readAll(fs, dir)
        refs.getOrElse(s, throw new IllegalArgumentException(
          s"$what: '$s' is neither a version nor a tag (tags: " +
            s"${refs.keys.toSeq.sorted.mkString(", ")})"))
    }

  /** Create or retarget a ref. The target manifest must exist. */
  def set(fs: FileSystem, dir: Path, name: String, version: Long): Unit = {
    validate(name)
    require(fs.exists(GraftTable.manifestPath(dir, version)),
      s"cannot tag version $version: no such snapshot (have " +
        s"${GraftTable.manifestVersions(fs, dir).mkString(", ")})")
    writeMap(fs, new Path(dir, RefsFile), readAll(fs, dir) + (name -> version))
  }

  /** Drop a ref; true iff it existed. */
  def drop(fs: FileSystem, dir: Path, name: String): Boolean = {
    val all = readAll(fs, dir)
    if (!all.contains(name)) return false
    writeMap(fs, new Path(dir, RefsFile), all - name)
    true
  }

  /** A `name\tversion` map file (the refs and the branch records): an
    * absent file is the empty map.
    */
  private[sources] def readMap(fs: FileSystem, file: Path): Map[String, Long] = {
    if (!fs.exists(file)) return Map.empty
    val in = fs.open(file)
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

  /** Install `m` as the map file `target` (name-sorted lines) through a
    * temp file and rename; an empty map deletes the file.
    */
  private[sources] def writeMap(fs: FileSystem, target: Path,
                                m: Map[String, Long]): Unit = {
    if (m.isEmpty) { fs.delete(target, false); return }
    val bytes = m.toSeq.sorted.map { case (n, v) => s"$n\t$v" }
      .mkString("\n").getBytes(UTF_8)
    val tmp = new Path(target.getParent, s".tmp-map-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (!fs.rename(tmp, target)) {
      // local FS rename won't clobber: replace via delete + rename
      fs.delete(target, false)
      require(fs.rename(tmp, target), s"could not install $target")
    }
  }
}
