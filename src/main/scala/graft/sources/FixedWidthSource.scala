package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Fixed-width record file format as a full DataSource V2 connector —
  * the mainframe/feed-drop ingest shape (`COBOL`-style layouts, bank
  * clearing files, sensor dumps) that ships alongside CSV in any ETL
  * engine, here built on Spark's connector API instead of an RDD shim.
  *
  * Why a connector and not `spark.read.text` + substring: the record
  * length is CONSTANT, so a file is perfectly splittable at byte offsets
  * with zero scanning — `planInputPartitions` turns one N-GB file into
  * `N / splitSize` independent range reads (at 100 TB a file never
  * serializes on one task, unlike text where splits must hunt for line
  * boundaries), and `SupportsPushDownRequiredColumns` prunes parsing to
  * the projected byte slices (a 2-column projection of a 40-field record
  * never materializes the other 38 — same contract parquet gives via
  * ReadSchema, asserted in FixedWidthSourceSpec).
  *
  * Layout option grammar: `layout = "name:width:type,..."` with types
  * int | long | double | string. Records are `sum(width)` ASCII bytes +
  * '\n'. Numbers are left-padded, strings right-padded with spaces;
  * all-space fields read back as NULL (the classic fixed-width NULL
  * convention — a genuinely empty string is not distinguishable, which
  * is inherent to the format, not this reader).
  */
object FixedWidth {

  case class Field(name: String, width: Int, dataType: DataType)

  case class Layout(fields: Seq[Field]) {
    val schema: StructType =
      StructType(fields.map(f => StructField(f.name, f.dataType)))
    /** record bytes including the trailing newline */
    val recordLen: Int = fields.map(_.width).sum + 1
    /** byte offset of each field within a record */
    val offsets: Map[String, Int] =
      fields.scanLeft(0)(_ + _.width).zip(fields).map { case (o, f) => f.name -> o }.toMap
  }

  def parseLayout(spec: String): Layout = Layout(
    spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { part =>
      part.split(":") match {
        case Array(name, w, t) =>
          val dt = t match {
            case "int" => IntegerType
            case "long" => LongType
            case "double" => DoubleType
            case "string" => StringType
            case other => throw new IllegalArgumentException(
              s"fixedwidth: unsupported type '$other' in layout entry '$part'")
          }
          Field(name, w.toInt, dt)
        case _ => throw new IllegalArgumentException(
          s"fixedwidth: layout entry '$part' is not name:width:type")
      }
    })
}

class FixedWidthSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fixedwidth"

  private def layout(options: CaseInsensitiveStringMap): FixedWidth.Layout = {
    val spec = options.get("layout")
    require(spec != null, "fixedwidth requires a 'layout' option (name:width:type,...)")
    FixedWidth.parseLayout(spec)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    layout(options).schema

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    require(path != null, "fixedwidth requires a path")
    new FixedWidthTable(layout(opts), path,
      opts.getLong("splitSize", 128L * 1024 * 1024),
      opts.getBoolean("columnar", true))
  }
}

class FixedWidthTable(layout: FixedWidth.Layout, path: String, splitSize: Long,
                      columnar: Boolean = true)
  extends Table with SupportsRead {
  override def name(): String = s"fixedwidth:$path"
  override def schema(): StructType = layout.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FixedWidthScanBuilder(layout, path, splitSize, columnar)
}

class FixedWidthScanBuilder(layout: FixedWidth.Layout, path: String, splitSize: Long,
                            columnar: Boolean = true)
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = layout.schema
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Row-level predicate pushdown: supported comparisons are evaluated on
    * the sliced field BEFORE the row is materialized, so a selective scan
    * never builds (or hands downstream) non-matching rows. Returns only
    * the UNsupported filters as residual — pushed ones are exact, not
    * stats-approximate like parquet row-group pruning, so Spark need not
    * re-evaluate them (the plan shows no post-scan Filter; asserted in
    * FixedWidthSourceSpec together with value equivalence).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(FixedWidthFilters.supported(layout, _))
    pushed = sup
    unsup
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new FixedWidthScan(layout, path, splitSize, required, pushed, columnar)
}

/** Evaluation of pushed V1 `sources.Filter`s against parsed field values.
  * NULL comparisons follow SQL WHERE semantics: any comparison with NULL
  * is not-true → row dropped (IsNull/IsNotNull test nullness itself).
  */
object FixedWidthFilters {

  private def isCol(layout: FixedWidth.Layout, name: String): Boolean =
    layout.fields.exists(_.name == name)

  def supported(layout: FixedWidth.Layout, f: Filter): Boolean = f match {
    // NULL literals are rejected (left as residual for Spark): eval()
    // collapses UNKNOWN to false, which is correct under a WHERE — but a
    // pushed filter is EXACT (never re-evaluated), and under Not(..) the
    // collapse inverts wrongly: `x NOT IN (1, NULL)` is UNKNOWN (drop) for
    // any non-matching x, while Not(eval(In)) would emit the row
    case EqualTo(a, v) => isCol(layout, a) && v != null
    case GreaterThan(a, v) => isCol(layout, a) && v != null
    case GreaterThanOrEqual(a, v) => isCol(layout, a) && v != null
    case LessThan(a, v) => isCol(layout, a) && v != null
    case LessThanOrEqual(a, v) => isCol(layout, a) && v != null
    case IsNull(a) => isCol(layout, a)
    case IsNotNull(a) => isCol(layout, a)
    case In(a, vs) => isCol(layout, a) && !vs.contains(null)
    case And(l, r) => supported(layout, l) && supported(layout, r)
    case Or(l, r) => supported(layout, l) && supported(layout, r)
    case Not(c) => supported(layout, c)
    case _ => false
  }

  /** three-valued compare: None when either side is NULL */
  private def cmp(v: Any, lit: Any): Option[Int] = (v, lit) match {
    case (null, _) | (_, null) => None
    case (a: String, b) => Some(a.compareTo(b.toString))
    case (a: java.lang.Number, b: java.lang.Number)
      if a.isInstanceOf[java.lang.Double] || b.isInstanceOf[java.lang.Double] =>
      Some(java.lang.Double.compare(a.doubleValue(), b.doubleValue()))
    case (a: java.lang.Number, b: java.lang.Number) =>
      Some(java.lang.Long.compare(a.longValue(), b.longValue()))
    case _ => None
  }

  def eval(f: Filter, value: String => Any): Boolean = f match {
    case EqualTo(a, v) => cmp(value(a), v).contains(0)
    case GreaterThan(a, v) => cmp(value(a), v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(value(a), v).exists(_ >= 0)
    case LessThan(a, v) => cmp(value(a), v).exists(_ < 0)
    case LessThanOrEqual(a, v) => cmp(value(a), v).exists(_ <= 0)
    case IsNull(a) => value(a) == null
    case IsNotNull(a) => value(a) != null
    case In(a, vs) => vs.exists(v => cmp(value(a), v).contains(0))
    case And(l, r) => eval(l, value) && eval(r, value)
    case Or(l, r) => eval(l, value) || eval(r, value)
    case Not(c) =>
      // SQL NOT over three-valued logic: NOT(unknown) is unknown → drop.
      // eval() collapses unknown to false, so Not(eval) would wrongly
      // PASS a null comparison; guard by requiring the child's referenced
      // columns non-null first
      refs(c).forall(value(_) != null) && !eval(c, value)
    case _ => false
  }

  private def refs(f: Filter): Seq[String] = f.references.toSeq
}

/** Ships the DRIVER's Hadoop conf to executor code (partition readers,
  * data writers, maintenance closures) so s3a credentials / custom
  * filesystem settings survive the executor hop. Built on the driver
  * (it needs the active SparkContext), it ships the conf as a Spark
  * broadcast, the way Spark's own file scans do: the conf is serialized
  * once per scan or write, a task carries only the broadcast handle, and
  * every task of the scan on one executor shares one deserialized conf.
  * Shared means read-only: `value` must never be mutated — copy it first.
  */
class SerializableHadoopConf(conf: Configuration) extends Serializable {
  private val shipped =
    SparkContext.getOrCreate().broadcast(new SerializableHadoopConf.Shipped(conf))

  def value: Configuration = shipped.value.conf

  /** `value` prepared to read `requestedSchema` rows
    * ([[ParquetRowIO.readConf]]), built once per executor per schema and
    * shared by every reader opened from this conf.
    */
  def readConf(requestedSchema: StructType): Configuration =
    shipped.value.readConf(requestedSchema)
}

object SerializableHadoopConf {
  /** The broadcast value: Configuration is Writable, not Serializable. */
  private class Shipped(@transient var conf: Configuration) extends Serializable {
    @transient private lazy val readConfs =
      new java.util.concurrent.ConcurrentHashMap[StructType, Configuration]()

    def readConf(schema: StructType): Configuration =
      readConfs.computeIfAbsent(schema, ParquetRowIO.readConf(conf, _))

    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new Configuration(false)
      conf.readFields(in)
    }
  }
}

/** One partition = a record-aligned byte range of one file. */
case class FixedWidthPartition(file: String, startRecord: Long, nRecords: Long)
  extends InputPartition

class FixedWidthScan(layout: FixedWidth.Layout, path: String, splitSize: Long,
                     required: StructType, filters: Array[Filter],
                     columnar: Boolean = true)
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"fixedwidth $path recordLen=${layout.recordLen} cols=${required.fieldNames.mkString(",")}"

  /** Driver-side planning is pure metadata: list files, divide lengths.
    * No data pass — the constant record length makes every byte offset a
    * record boundary, so splits never scan for delimiters.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq.filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
      else Seq(fs.getFileStatus(p))
    val recLen = layout.recordLen.toLong
    val recsPerSplit = math.max(1L, splitSize / recLen)
    files.sortBy(_.getPath.toString).flatMap { st =>
      require(st.getLen % recLen == 0,
        s"${st.getPath}: length ${st.getLen} is not a multiple of record length $recLen")
      val nRecs = st.getLen / recLen
      (0L until nRecs by recsPerSplit).map(start =>
        FixedWidthPartition(st.getPath.toString, start,
          math.min(recsPerSplit, nRecs - start)))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FixedWidthReaderFactory(layout, required, filters,
      // driver conf rides to the executors — a reader-side `new
      // Configuration()` would drop s3a credentials / custom FS settings
      new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()),
      columnar)
}

class FixedWidthReaderFactory(layout: FixedWidth.Layout, required: StructType,
                              filters: Array[Filter], conf: SerializableHadoopConf,
                              columnar: Boolean = true)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FixedWidthPartitionReader(layout, required, filters,
      partition.asInstanceOf[FixedWidthPartition], conf)

  // vectorized path (parquet's shape): the planner inserts ColumnarToRow
  // and downstream codegen reads columnar memory directly
  override def supportColumnarReads(partition: InputPartition): Boolean = columnar
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new FixedWidthColumnarReader(layout, required, filters,
      partition.asInstanceOf[FixedWidthPartition], conf)
}

/** Shared record cursor for the row and columnar readers: range-seeks the
  * file, parses exactly the needed byte slices per record (projected
  * fields ∪ pushed-filter references) and applies pushed filters BEFORE
  * any row/batch materialization.
  */
private[sources] class FixedWidthRecordCursor(layout: FixedWidth.Layout,
                                              required: StructType,
                                              filters: Array[Filter],
                                              part: FixedWidthPartition,
                                              conf: SerializableHadoopConf) {
  private val recordLen = layout.recordLen
  private val filterRefs = filters.flatMap(_.references).toSet
  private val parseNames =
    (required.fieldNames ++ filterRefs.filterNot(required.fieldNames.contains)).toSeq
  private val slices = parseNames.map { name =>
    val fld = layout.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"fixedwidth: unknown column $name"))
    (name, layout.offsets(name), fld.width, fld.dataType)
  }.toArray
  private val nameIdx = parseNames.zipWithIndex.toMap
  /** index into the parsed values per required (output) field */
  val outIdx: Array[Int] = required.fieldNames.map(nameIdx)

  private val in = {
    val p = new Path(part.file)
    val stream = p.getFileSystem(conf.value).open(p)
    stream.seek(part.startRecord * recordLen)
    stream
  }
  private val buf = new Array[Byte](recordLen)
  private var read = 0L

  /** Parse set of the next record that passes every pushed filter, or
    * null when the range is exhausted.
    */
  def nextPassing(): Array[Any] = {
    while (read < part.nRecords) {
      in.readFully(buf)
      read += 1
      val values = new Array[Any](slices.length)
      var i = 0
      while (i < slices.length) {
        val (_, off, w, dt) = slices(i)
        // ASCII layout contract: byte offsets are char offsets
        val s = new String(buf, off, w, "US-ASCII").trim
        values(i) =
          if (s.isEmpty) null
          else dt match {
            case IntegerType => s.toInt
            case LongType => s.toLong
            case DoubleType => s.toDouble
            case _ => s
          }
        i += 1
      }
      val value = (name: String) => values(nameIdx(name))
      if (filters.forall(FixedWidthFilters.eval(_, value))) return values
    }
    null
  }

  def close(): Unit = in.close()
}

class FixedWidthPartitionReader(layout: FixedWidth.Layout, required: StructType,
                                filters: Array[Filter], part: FixedWidthPartition,
                                conf: SerializableHadoopConf)
  extends PartitionReader[InternalRow] {

  private val cursor = new FixedWidthRecordCursor(layout, required, filters, part, conf)
  private val outIdx = cursor.outIdx
  private var row: InternalRow = _

  override def next(): Boolean = {
    val values = cursor.nextPassing()
    if (values == null) return false
    val out = new Array[Any](outIdx.length)
    var j = 0
    while (j < outIdx.length) {
      out(j) = values(outIdx(j)) match {
        case s: String => UTF8String.fromString(s)
        case v => v
      }
      j += 1
    }
    row = new GenericInternalRow(out)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = cursor.close()
}

/** Vectorized reader: parses record bytes DIRECTLY into OnHeapColumnVector
  * batches (the parquet vectorized shape). Unlike the row path — which
  * allocates a java.lang.String per field plus a GenericInternalRow per
  * record — the hot loop here is allocation-free: integral fields decode
  * digit-by-digit from the record buffer, strings byte-copy straight into
  * the vector (the ASCII layout contract makes every slice valid UTF-8).
  * Downstream whole-stage codegen reads the vectors via ColumnarToRow.
  * Pushed filters still run per record before anything materializes;
  * filter-referenced fields are parsed boxed (filters are few), output
  * fields are not.
  */
class FixedWidthColumnarReader(layout: FixedWidth.Layout, required: StructType,
                               filters: Array[Filter], part: FixedWidthPartition,
                               conf: SerializableHadoopConf, batchSize: Int = 4096)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

  private val recordLen = layout.recordLen
  // output fields parse straight into vectors; filter refs parse boxed
  private val outSlices = required.fields.map { f =>
    val fld = layout.fields.find(_.name == f.name).getOrElse(
      throw new IllegalArgumentException(s"fixedwidth: unknown column ${f.name}"))
    (layout.offsets(f.name), fld.width, fld.dataType)
  }
  private val filterNames = filters.flatMap(_.references).distinct
  private val filterSlices = filterNames.map { name =>
    val fld = layout.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"fixedwidth: unknown column $name"))
    (name, layout.offsets(name), fld.width, fld.dataType)
  }

  private val in = {
    val p = new Path(part.file)
    val stream = p.getFileSystem(conf.value).open(p)
    stream.seek(part.startRecord * recordLen)
    stream
  }
  private val buf = new Array[Byte](recordLen)
  private var read = 0L
  private val vectors = OnHeapColumnVector.allocateColumns(batchSize, required)
  private val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
    vectors.map(v => v: org.apache.spark.sql.vectorized.ColumnVector))
  private val filterVals = new Array[Any](filterSlices.length)
  private val filterValue: String => Any = {
    val idx = filterNames.zipWithIndex.toMap
    name => filterVals(idx(name))
  }

  /** [start, end) of the space-trimmed slice; start == end for all-blank */
  @inline private def trimmed(off: Int, w: Int): Long = {
    var s = off
    val limit = off + w
    while (s < limit && buf(s) == ' ') s += 1
    var e = limit
    while (e > s && buf(e - 1) == ' ') e -= 1
    (s.toLong << 32) | e.toLong
  }

  /** Allocation-free ASCII long decode (layout numbers: optional sign +
    * digits; anything else falls back to the String path for the exact
    * NumberFormatException the row reader would raise).
    */
  private def parseLong(s: Int, e: Int): Long = {
    var i = s
    var neg = false
    if (buf(i) == '-' || buf(i) == '+') { neg = buf(i) == '-'; i += 1 }
    if (i >= e) return fallbackLong(s, e)
    var v = 0L
    while (i < e) {
      val c = buf(i)
      if (c < '0' || c > '9') return fallbackLong(s, e)
      v = v * 10 + (c - '0')
      i += 1
    }
    if (neg) -v else v
  }
  private def fallbackLong(s: Int, e: Int): Long =
    new String(buf, s, e - s, "US-ASCII").toLong

  private def boxedValue(off: Int, w: Int, dt: DataType): Any = {
    val t = trimmed(off, w)
    val s = (t >> 32).toInt; val e = t.toInt
    if (s == e) null
    else dt match {
      case IntegerType => parseLong(s, e).toInt
      case LongType => parseLong(s, e)
      case DoubleType => new String(buf, s, e - s, "US-ASCII").toDouble
      case _ => new String(buf, s, e - s, "US-ASCII")
    }
  }

  override def next(): Boolean = {
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    while (n < batchSize && read < part.nRecords) {
      in.readFully(buf)
      read += 1
      var pass = true
      if (filters.nonEmpty) {
        var f = 0
        while (f < filterSlices.length) {
          val (_, off, w, dt) = filterSlices(f)
          filterVals(f) = boxedValue(off, w, dt)
          f += 1
        }
        pass = filters.forall(FixedWidthFilters.eval(_, filterValue))
      }
      if (pass) {
        var j = 0
        while (j < outSlices.length) {
          val (off, w, dt) = outSlices(j)
          val t = trimmed(off, w)
          val s = (t >> 32).toInt; val e = t.toInt
          val vec = vectors(j)
          if (s == e) vec.putNull(n)
          else dt match {
            case IntegerType => vec.putInt(n, parseLong(s, e).toInt)
            case LongType => vec.putLong(n, parseLong(s, e))
            case DoubleType =>
              vec.putDouble(n, new String(buf, s, e - s, "US-ASCII").toDouble)
            case _ => vec.putByteArray(n, buf, s, e - s) // ASCII ⊂ UTF-8
          }
          j += 1
        }
        n += 1
      }
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
  override def close(): Unit = {
    in.close()
    batch.close()
  }
}
