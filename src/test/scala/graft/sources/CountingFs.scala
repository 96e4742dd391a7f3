package graft.sources

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.connector.catalog.{Identifier, Table}

/** The local disk under a third scheme (`countfs://`) that counts every
  * `open` by file name — how specs see how often a table's metadata files
  * are read. Register with `fs.countfs.impl = graft.sources.CountingFs`.
  */
class CountingFs extends RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.opens.computeIfAbsent(f.getName, _ => new AtomicInteger)
      .incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingFs {
  private[sources] val opens = new ConcurrentHashMap[String, AtomicInteger]()
  private[sources] val loads = new AtomicInteger()

  def reset(): Unit = { opens.clear(); loads.set(0) }
  def opened(name: String): Int = Option(opens.get(name)).map(_.get).getOrElse(0)
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
