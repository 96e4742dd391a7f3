package graftbench

import java.io.OutputStream
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, PathFilter, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Hadoop's default `file://` filesystem, counting every call the program
  * makes on paths under one root (the warehouse). Traced runs register it
  * as `fs.file.impl`; the scheme and URI stay `file:///`, so the catalog
  * takes the same commit path as on a plain local warehouse (tmp file plus
  * hard link, checksummed writes).
  *
  * Only the outermost call on a thread is counted and timed, so a call the
  * filesystem makes to itself (a rename that stats, a create that makes
  * parent dirs) counts once, as the program issued it. The hard link that
  * installs a commit goes through `java.nio`, not through this class: it
  * is counted when the program deletes the commit's tmp file, which then
  * has a second link (`link`, categorized by the linked target) or, when a
  * racing committer won, none (`lost_link`). Counters are process-global:
  * the benchmark issues one operation at a time and takes the difference
  * of two snapshots around it.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  private var root = ""

  override def initialize(name: java.net.URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    root = conf.get(RootKey, "")
  }

  private def local(p: Path): String = makeQualified(p).toUri.getPath
  private def mine(p: Path): Boolean = root.nonEmpty && {
    val l = local(p)
    l == root || l.startsWith(root + "/")
  }

  private def track[T](kind: String, p: Path)(body: => T): T = {
    val d = depth.get
    if (d(0) > 0 || !mine(p)) body
    else {
      d(0) += 1
      val t0 = System.nanoTime()
      try body
      finally {
        d(0) -= 1
        add(kind, category(p.getName), 1)
        add("nanos", "all", System.nanoTime() - t0)
      }
    }
  }

  /** A create, its stream wrapped to count bytes once: by the outermost
    * call, not by the overloads it calls in turn. */
  private def creating(f: Path)(make: => FSDataOutputStream): FSDataOutputStream = {
    val outermost = depth.get()(0) == 0
    val out = track("create", f)(make)
    if (outermost && mine(f)) counted(out, f) else out
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    creating(f)(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    creating(f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  overwrite: Boolean, bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    creating(f)(super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    track("open", f)(super.open(f, bufferSize))
  override def rename(src: Path, dst: Path): Boolean =
    track("rename", dst)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (depth.get()(0) == 0 && mine(p) && category(p.getName) == "tmp") linkOf(p)
    track("delete", p)(super.delete(p, recursive))
  }
  override def getFileStatus(p: Path): FileStatus =
    track("stat", p)(super.getFileStatus(p))
  override def exists(p: Path): Boolean =
    track("stat", p)(super.exists(p))
  override def listStatus(p: Path): Array[FileStatus] =
    track("list", p)(super.listStatus(p))
  override def listStatus(p: Path, filter: PathFilter): Array[FileStatus] =
    track("list", p)(super.listStatus(p, filter))
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] =
    track("list", p)(super.listLocatedStatus(p))
  override def globStatus(p: Path): Array[FileStatus] =
    track("list", p)(super.globStatus(p))
  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    track("mkdir", p)(super.mkdirs(p, permission))

  /** Before a commit's tmp file is deleted: a second link means the commit
    * linked it into place; the target is the sibling with its inode. */
  private def linkOf(p: Path): Unit =
    try {
      val f = Paths.get(local(p))
      if (Files.exists(f)) {
        if (Files.getAttribute(f, "unix:nlink").asInstanceOf[Int] < 2) add("lost_link", "all", 1)
        else {
          val ino = Files.getAttribute(f, "unix:ino")
          val names = Option(f.getParent.toFile.list()).getOrElse(Array.empty[String])
          val target = names.find { n =>
            !n.startsWith(".") && Files.getAttribute(f.resolveSibling(n), "unix:ino") == ino
          }
          add("link", target.map(category).getOrElse("other"), 1)
        }
      }
    } catch { case _: java.io.IOException | _: UnsupportedOperationException => }

  private def counted(out: FSDataOutputStream, f: Path): FSDataOutputStream = {
    val cat = category(f.getName)
    val sink = new OutputStream {
      override def write(b: Int): Unit = { out.write(b); add("bytes", cat, 1) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); add("bytes", cat, len)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }
    new FSDataOutputStream(sink, null)
  }
}

object CountingFs {
  /** Hadoop conf key: the local path under which calls are counted. */
  val RootKey = "graftbench.count.root"

  val Categories: Seq[String] = Seq("data", "manifest", "marker", "tmp", "other")

  private val counters = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val depth = new ThreadLocal[Array[Int]] { override def initialValue = Array(0) }

  /** What a file name is to the catalog: a data file, a manifest (or
    * manifest segment), a commit-kind marker, a commit's tmp file, or
    * anything else. */
  def category(n: String): String =
    if (n.startsWith("_graft_manifest_") || n.startsWith("_graft_segment_") ||
      (n.startsWith("_graft_branch_") && n.contains("_manifest_"))) "manifest"
    else if (n.startsWith("_graft_commit_")) "marker"
    else if (n.startsWith(".tmp-commit-") || n.startsWith(".tmp-condput-")) "tmp"
    else if (n.endsWith(".parquet")) "data"
    else "other"

  private def add(kind: String, cat: String, n: Long): Unit =
    counters.computeIfAbsent(s"$kind.$cat", _ => new LongAdder).add(n)

  /** Current value of every counter, keyed `kind.category`. */
  def snapshot(): Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    counters.forEach((k, v) => b += k -> v.sum())
    b.result()
  }

  def diff(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }.filter(_._2 != 0)
}
