package graft.sources

import java.net.URI
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.connector.catalog.{Identifier, Table}

/** The local disk under a third scheme (`countfs://`) that counts every
  * `open` by file name — how specs see how often a table's metadata files
  * are read — and records every open, listing, create and mkdirs by path
  * ([[CountingFs.touched]]). Register with
  * `fs.countfs.impl = graft.sources.CountingFs`.
  */
class CountingFs extends RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.opens.computeIfAbsent(f.getName, _ => new AtomicInteger)
      .incrementAndGet()
    CountingFs.touch("open", f)
    super.open(f, bufferSize)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CountingFs.touch("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CountingFs.touch("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def mkdirs(f: Path): Boolean = {
    CountingFs.touch("mkdirs", f)
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CountingFs.touch("mkdirs", f)
    super.mkdirs(f, permission)
  }

  // plain statuses: the local file system loads permissions through a
  // `file:` URI, which a countfs path is not (`listFiles` asks for them)
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.touch("list", f)
    super.listStatus(f).map(st => new FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath))
  }
}

object CountingFs {
  private[sources] val opens = new ConcurrentHashMap[String, AtomicInteger]()
  private[sources] val loads = new AtomicInteger()
  private val touches = new ConcurrentLinkedQueue[String]()

  private[sources] def touch(op: String, f: Path): Unit =
    touches.add(s"$op ${f.toUri.getPath}")

  def reset(): Unit = { opens.clear(); loads.set(0); touches.clear() }
  def opened(name: String): Int = Option(opens.get(name)).map(_.get).getOrElse(0)

  /** `"<op> <path>"` of every open, list, create and mkdirs since [[reset]]. */
  def touched: Seq[String] = touches.asScala.toSeq
}

/** A [[GraftCatalog]] counting its `loadTable(ident)` calls into
  * [[CountingFs.loads]] (the catalog's own reload after ALTER included).
  */
class CountingCatalog extends GraftCatalog {
  override def loadTable(ident: Identifier): Table = {
    CountingFs.loads.incrementAndGet()
    super.loadTable(ident)
  }
}
