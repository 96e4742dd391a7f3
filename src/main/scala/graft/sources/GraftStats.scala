package graft.sources

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Manifest-lifted per-file column statistics — the metadata a real table
  * format (Iceberg's manifest min/max, Delta's file stats) carries so scan
  * planning never opens data files. Per landed data file: size, row
  * count, and per-column (nullCount, min, max, sketches), one line each in
  * the stats log that [[GraftFileLog]] stores. The write path tracks them
  * in the writer's hot loop (zero extra IO); maintenance rewrites lift
  * them from the footers they just wrote ([[GraftFileLog.liftLanded]]);
  * `analyzeTable` backfills old tables. Scan planning evaluates pushed filters against
  * the recorded ranges with a sound canDrop/allMatch pair and only falls
  * back to a footer probe for files without stats — at 100 TB the
  * difference between O(files) driver footer reads and a handful of
  * sequential metadata-log reads.
  *
  * Soundness notes:
  *  - values are canonical strings; BOTH producer and consumer order them
  *    with the same comparator per type (strings: unsigned byte-wise,
  *    `UTF8String.binaryCompare` — [[Utf8Order]], the Spark sort and
  *    parquet statistics order; floats: widened exactly to double), so
  *    a pruning decision can never disagree with the data.
  *  - a float/double column that ever sees NaN is poisoned (no min/max —
  *    NaN breaks total ordering); null counts remain.
  *  - footer-lifted string bounds may be parquet-truncated; truncation is
  *    conservative (min a prefix, max incremented), so pruning stays safe.
  *  - deletion vectors only REMOVE rows, so recorded bounds stay sound
  *    over-approximations on merge-on-read tables.
  */
object GraftStats {

  /** nulls = -1 means unknown (footer without null counts). min/max are
    * canonical strings; None = no bound recorded (all-null column, NaN
    * poisoning, or unsupported type). `ndv` is a serialized HLL sketch of
    * the column's distinct values (tracked in the writer's hot loop) —
    * MERGEABLE across files, so the planner's table-level distinct count
    * is a metadata union, never a data scan; None for footer-lifted
    * entries (parquet footers carry no NDV) until `analyzeNdv` backfills.
    */
  case class ColStats(nulls: Long, min: Option[String], max: Option[String],
                      ndv: Option[Array[Byte]] = None,
                      kll: Option[Array[Byte]] = None,
                      kllStr: Option[Array[Byte]] = None)
  case class FileStats(size: Long, rows: Long, cols: Map[String, ColStats])

  // ---- line codec (stored by GraftFileLog) -------------------------------

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = URLDecoder.decode(s, "UTF-8")
  private def encOpt(o: Option[String]): String = o.map("v" + enc(_)).getOrElse("")
  private def decOpt(s: String): Option[String] =
    if (s.startsWith("v")) Some(dec(s.substring(1))) else None

  private[sources] def encodeLine(name: String, st: FileStats): String = {
    val cols = st.cols.toSeq.sortBy(_._1).map { case (c, cs) =>
      val b64 = (b: Array[Byte]) => java.util.Base64.getEncoder.encodeToString(b)
      // positional tail fields: ndv (HLL), then kll (numeric quantiles,
      // KllDoublesSketch bytes), then kllStr (STRING quantiles,
      // KllItemsSketch[UTF8String] bytes — a separate slot because the
      // two sketch types must never be heapified as each other) — a
      // present later slot forces (possibly empty) earlier slots; absent
      // tails are omitted so pre-sketch lines stay byte-identical
      val tail =
        if (cs.kllStr.nonEmpty)
          "," + cs.ndv.map(b64).getOrElse("") + "," +
            cs.kll.map(b64).getOrElse("") + "," + b64(cs.kllStr.get)
        else if (cs.kll.nonEmpty)
          "," + cs.ndv.map(b64).getOrElse("") + "," + b64(cs.kll.get)
        else cs.ndv.map(b => "," + b64(b)).getOrElse("")
      s"${enc(c)},${cs.nulls},${encOpt(cs.min)},${encOpt(cs.max)}$tail"
    }.mkString(";")
    s"${enc(name)}\t${st.size}\t${st.rows}\t$cols"
  }

  private[sources] def decodeLine(l: String): Option[(String, FileStats)] = {
    val parts = l.split("\t", -1)
    if (parts.length < 3) return None
    val cols =
      if (parts.length < 4 || parts(3).isEmpty) Map.empty[String, ColStats]
      else parts(3).split(";", -1).toSeq.flatMap { ce =>
        ce.split(",", -1) match {
          case Array(c, n, mn, mx) =>
            Some(dec(c) -> ColStats(n.toLong, decOpt(mn), decOpt(mx)))
          case Array(c, n, mn, mx, ndv) =>
            Some(dec(c) -> ColStats(n.toLong, decOpt(mn), decOpt(mx),
              Some(java.util.Base64.getDecoder.decode(ndv))))
          case Array(c, n, mn, mx, ndv, kll) =>
            Some(dec(c) -> ColStats(n.toLong, decOpt(mn), decOpt(mx),
              Some(ndv).filter(_.nonEmpty)
                .map(java.util.Base64.getDecoder.decode),
              Some(kll).filter(_.nonEmpty)
                .map(java.util.Base64.getDecoder.decode)))
          case Array(c, n, mn, mx, ndv, kll, kls) =>
            Some(dec(c) -> ColStats(n.toLong, decOpt(mn), decOpt(mx),
              Some(ndv).filter(_.nonEmpty)
                .map(java.util.Base64.getDecoder.decode),
              Some(kll).filter(_.nonEmpty)
                .map(java.util.Base64.getDecoder.decode),
              Some(kls).filter(_.nonEmpty)
                .map(java.util.Base64.getDecoder.decode)))
          case _ => None
        }
      }.toMap
    Some(dec(parts(0)) -> FileStats(parts(1).toLong, parts(2).toLong, cols))
  }

  // ---- write-path tracker ------------------------------------------------

  private val KindNone = 0
  private val KindLong = 1      // byte/short/int/long/date/timestamp(ntz)
  private val KindDouble = 2    // float widened exactly, double
  private val KindString = 3
  private val KindDecimal = 4
  private val KindBoolean = 5

  private def kindOf(dt: DataType): Int = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => KindLong
    case FloatType | DoubleType => KindDouble
    case StringType => KindString
    case _: DecimalType => KindDecimal
    case BooleanType => KindBoolean
    case _ => KindNone
  }

  /** Running min/max/nullCount over the rows of ONE data file, updated in
    * the writer's hot loop — per row per column: a null check plus one
    * compare (what parquet's own page stats do anyway). UTF8String keys
    * are cloned on keep (row buffers are reused); Decimals are copied to
    * BigDecimal on keep.
    */
  final class Tracker(schema: StructType) {
    private val n = schema.length
    private val kinds = schema.fields.map(f => kindOf(f.dataType))
    private val decScale = schema.fields.map {
      case StructField(_, d: DecimalType, _, _) => (d.precision, d.scale)
      case _ => (0, 0)
    }
    private val nulls = new Array[Long](n)
    private val mins = new Array[Any](n)
    private val maxs = new Array[Any](n)
    private val poisoned = new Array[Boolean](n)
    private var rows = 0L
    // distinct-value sketches (long/double/string/decimal kinds): one
    // typed HLL update per non-null value — integrals always widen to
    // LONG and floats to DOUBLE before hashing, so the bits stay
    // consistent across the type-widening DDL; decimals hash their
    // DOUBLE image (round 13 — stable under precision widening; distinct
    // decimals collapsing to one double under-count NDV by exactly the
    // mass a rank estimate tolerates)
    private val ndvs: Array[org.apache.datasketches.hll.HllSketch] =
      kinds.map {
        case KindLong | KindDouble | KindString | KindDecimal =>
          new org.apache.datasketches.hll.HllSketch(NdvLgK)
        case _ => null
      }
    // quantile sketches (NUMERIC kinds): one KLL update per non-null
    // value — integrals widen to long then double (exact to 2^53, far
    // beyond any selectivity need), floats to double exactly, so rank
    // queries stay consistent across the type-widening DDL. Decimals
    // ride the SAME doubles sketch through doubleValue() (round 13) —
    // the mapping is order-preserving up to double rounding, which can
    // only blur a rank by the mass of near-equal values, exactly the
    // kind of error a selectivity estimate tolerates (and precision
    // widening leaves the double image unchanged).
    private val klls: Array[org.apache.datasketches.kll.KllDoublesSketch] =
      kinds.map {
        case KindLong | KindDouble | KindDecimal =>
          org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(KllK)
        case _ => null
      }
    // STRING quantile sketches (round 13): a KllItemsSketch over
    // UTF8String in Spark's own sort order ([[Utf8Order]], also the
    // order cmpStored prunes with), so range selectivity on string
    // columns is servable metadata-first like the numeric kinds. Items are cloned before update: the
    // sketch retains references, and the row's string points into a
    // reused buffer.
    private val kllStrs: Array[
        org.apache.datasketches.kll.KllItemsSketch[UTF8String]] =
      kinds.map {
        case KindString =>
          org.apache.datasketches.kll.KllItemsSketch.newHeapInstance(
            KllK, Utf8Order, Utf8ItemsSerDe)
        case _ => null
      }

    def update(row: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < n) {
        val k = kinds(i)
        if (k != KindNone) {
          if (row.isNullAt(i)) nulls(i) += 1
          else k match {
            case KindLong =>
              val v = schema.fields(i).dataType match {
                case ByteType => row.getByte(i).toLong
                case ShortType => row.getShort(i).toLong
                case IntegerType | DateType => row.getInt(i).toLong
                case _ => row.getLong(i)
              }
              if (mins(i) == null || v < mins(i).asInstanceOf[Long]) mins(i) = v
              if (maxs(i) == null || v > maxs(i).asInstanceOf[Long]) maxs(i) = v
              ndvs(i).update(v)
              klls(i).update(v.toDouble)
            case KindDouble =>
              val v = schema.fields(i).dataType match {
                case FloatType => row.getFloat(i).toDouble
                case _ => row.getDouble(i)
              }
              if (java.lang.Double.isNaN(v)) poisoned(i) = true
              else {
                if (mins(i) == null ||
                    java.lang.Double.compare(v, mins(i).asInstanceOf[Double]) < 0)
                  mins(i) = v
                if (maxs(i) == null ||
                    java.lang.Double.compare(v, maxs(i).asInstanceOf[Double]) > 0)
                  maxs(i) = v
              }
              if (!java.lang.Double.isNaN(v)) { ndvs(i).update(v); klls(i).update(v) }
            case KindString =>
              val v = row.getUTF8String(i)
              if (mins(i) == null ||
                  v.binaryCompare(mins(i).asInstanceOf[UTF8String]) < 0)
                mins(i) = v.clone()
              if (maxs(i) == null ||
                  v.binaryCompare(maxs(i).asInstanceOf[UTF8String]) > 0)
                maxs(i) = v.clone()
              ndvs(i).update(v.getBytes)
              kllStrs(i).update(strSketchItem(v))
            case KindDecimal =>
              val (p, s) = decScale(i)
              val v = row.getDecimal(i, p, s).toJavaBigDecimal
              if (mins(i) == null ||
                  v.compareTo(mins(i).asInstanceOf[java.math.BigDecimal]) < 0)
                mins(i) = v
              if (maxs(i) == null ||
                  v.compareTo(maxs(i).asInstanceOf[java.math.BigDecimal]) > 0)
                maxs(i) = v
              val dv = v.doubleValue()
              ndvs(i).update(dv)
              klls(i).update(dv)
            case KindBoolean =>
              val v = row.getBoolean(i)
              if (mins(i) == null || !v) mins(i) = v
              if (maxs(i) == null || v) maxs(i) = v
            case _ =>
          }
        }
        i += 1
      }
    }

    private def canon(i: Int, a: Any): String = kinds(i) match {
      case KindLong => a.asInstanceOf[Long].toString
      case KindDouble => java.lang.Double.toString(a.asInstanceOf[Double])
      case KindString => a.asInstanceOf[UTF8String].toString
      case KindDecimal => a.asInstanceOf[java.math.BigDecimal].toPlainString
      case KindBoolean => a.asInstanceOf[Boolean].toString
      case _ => throw new IllegalStateException("canon of unsupported kind")
    }

    def result(size: Long): FileStats = {
      val cols = schema.fields.indices.flatMap { i =>
        if (kinds(i) == KindNone) None
        else {
          val (mn, mx) =
            if (poisoned(i) || mins(i) == null) (None, None)
            else (Some(canon(i, mins(i))), Some(canon(i, maxs(i))))
          val ndv = Option(ndvs(i)).map(_.toCompactByteArray)
          val kll = Option(klls(i)).map(_.toByteArray)
          val kllStr = Option(kllStrs(i)).map(_.toByteArray)
          Some(schema.fields(i).name ->
            ColStats(nulls(i), mn, mx, ndv, kll, kllStr))
        }
      }.toMap
      FileStats(size, rows, cols)
    }
  }

  // ---- NDV sketches (planner column statistics) --------------------------

  /** lgK=12: ±~1.6%% standard error, ≤2 KB compact per column per file. */
  val NdvLgK = 12

  /** KLL k=200: ±~1.65%% normalized rank error, ≤3 KB per numeric column
    * per file — the quantile twin of the NDV sketch, serving RANGE
    * selectivities the way HLL serves equality.
    */
  val KllK = 200

  /** Code-point cap on STRING quantile-sketch items (≤4× in bytes):
    * items are truncated to this prefix at UPDATE and PROBE alike —
    * prefix truncation is order-preserving, so ranks blur only by the
    * mass of values sharing the bound's prefix. Without the cap a
    * long-text column (the documents table) would RETAIN whole
    * documents in the sketch: ~500 retained items × multi-KB texts is
    * a megabyte of stats-log per file per column and a hot-loop clone
    * of every text — the cap bounds both at ~16-64 bytes per item.
    */
  val StrSketchPrefix = 16

  /** Truncate a sketch item to [[StrSketchPrefix]] code points, always
    * returning a FRESH string safe to retain (substring's full-cover
    * fast path may return the receiver, which points into a reused row
    * buffer).
    */
  private[sources] def strSketchItem(v: UTF8String): UTF8String = {
    val t = v.substring(0, StrSketchPrefix)
    if (t eq v) t.clone() else t
  }

  /** Metadata-only (head row count, per-value match estimate) for an
    * EQUALITY predicate on `col`: rows / NDV over the HEAD snapshot's
    * manifest-lifted sketches. None when any live file lacks stats or
    * the column has no sketch — callers fall back to a counted dispatch.
    * Row-level masks are tolerated as over-counts: for a dispatch
    * decision (brute-force the subset vs probe an index) an estimate
    * that errs HIGH only routes to the index, never to an oversized
    * exact scan — the safe direction.
    */
  def headEqualityEstimate(fs: FileSystem, dir: Path,
                           col: String): Option[(Long, Long)] =
    headEqualityEstimate(fs, dir, Seq(col))

  /** Conjunctive form — `col1 = a AND col2 = b AND ...`: rows / Π NDVᵢ
    * under the standard CBO independence assumption (correlated columns
    * make the product UNDER-estimate, which for the dispatch only means
    * an exact scan of a somewhat larger subset — never a wrong answer).
    * None when ANY column lacks a sketch: a partial product would claim
    * unearned selectivity.
    */
  def headEqualityEstimate(fs: FileSystem, dir: Path,
                           cols: Seq[String]): Option[(Long, Long)] = {
    require(cols.nonEmpty, "headEqualityEstimate: at least one column")
    val versions = GraftTable.manifestVersions(fs, dir)
    val files =
      if (versions.nonEmpty)
        GraftTable.readFullEntries(fs, dir, versions.last).map(_.file)
      else GraftTable.dataFiles(fs, dir)
    if (files.isEmpty) return None
    val all = GraftFileLog.stats(fs, dir)
    val fileStats = files.flatMap(f => all.get(new Path(f).getName))
    if (fileStats.size != files.size) return None
    val rows = fileStats.map(_.rows).sum
    val ndvs = cols.map(c => mergedDistinct(fileStats, c).filter(_ > 0))
    if (ndvs.exists(_.isEmpty)) return None
    // fold by DIVIDING the row count through each NDV (never materialize
    // Π NDV itself — over many columns the product overflows a Long long
    // before it stops mattering); est <= rows holds because every NDV is
    // filtered to > 0 above
    val est = ndvs.flatten.foldLeft(rows.toDouble)((acc, n) => acc / n)
    Some((rows, math.max(1L, est.toLong)))
  }

  /** Table-level distinct-count estimate for `col`: union of every file's
    * sketch — None unless EVERY file carries one (a partial union is a
    * silent under-estimate, worse for the planner than no estimate).
    */
  def mergedDistinct(stats: Seq[FileStats], col: String): Option[Long] = {
    val sketches = stats.map(_.cols.get(col).flatMap(_.ndv))
    if (sketches.isEmpty || sketches.exists(_.isEmpty)) return None
    val u = new org.apache.datasketches.hll.Union(NdvLgK)
    sketches.flatten.foreach(b => u.update(
      org.apache.datasketches.hll.HllSketch.heapify(b)))
    Some(math.round(u.getEstimate))
  }

  /** Table-level quantile sketch for `col`: merge of every file's KLL —
    * None unless EVERY file carries one (same partial-merge refusal as
    * [[mergedDistinct]]: a partial merge silently misranks).
    */
  def mergedKll(stats: Seq[FileStats],
                col: String): Option[org.apache.datasketches.kll.KllDoublesSketch] = {
    val sketches = stats.map(_.cols.get(col).flatMap(_.kll))
    if (sketches.isEmpty || sketches.exists(_.isEmpty)) return None
    val m = org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(KllK)
    sketches.flatten.foreach(b => m.merge(
      org.apache.datasketches.kll.KllDoublesSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(b))))
    Some(m)
  }

  /** The one string order of the stats layer — min/max tracking, the
    * string quantile sketches, pruning and aggregate pushdown: unsigned
    * UTF-8 byte order via `UTF8String.binaryCompare`, the order Spark
    * sorts strings by and parquet's string statistics use. Not
    * `compareTo`: in Spark 4 that looks up the environment on every call
    * and throws when `spark.testing` is set.
    */
  private[sources] val Utf8Order: java.util.Comparator[UTF8String] =
    (a: UTF8String, b: UTF8String) => a.binaryCompare(b)

  /** Length-prefixed UTF-8 item codec for the string quantile sketch.
    * Lengths are written in the platform's native order — the same
    * convention the library's own ArrayOfStringsSerDe uses — because
    * Memory.wrap reads native-order by default; the sketch bytes are a
    * single-machine artifact of one write task, never compared across
    * endianness.
    */
  private[sources] object Utf8ItemsSerDe
      extends org.apache.datasketches.common.ArrayOfItemsSerDe[UTF8String] {
    import org.apache.datasketches.memory.Memory
    private val order = java.nio.ByteOrder.nativeOrder()
    override def serializeToByteArray(item: UTF8String): Array[Byte] = {
      val b = item.getBytes
      java.nio.ByteBuffer.allocate(4 + b.length).order(order)
        .putInt(b.length).put(b).array()
    }
    // the odd parameter type satisfies scalac's view of the Java
    // signature `byte[] serializeToByteArray(T[])` at T = UTF8String
    override def serializeToByteArray(
        items: Array[UTF8String with Object]): Array[Byte] = {
      val out = java.nio.ByteBuffer
        .allocate(items.map(i => 4 + i.numBytes()).sum).order(order)
      items.foreach { i => val b = i.getBytes; out.putInt(b.length).put(b) }
      out.array()
    }
    override def deserializeFromMemory(mem: Memory, offsetBytes: Long,
                                       numItems: Int): Array[UTF8String] = {
      val out = new Array[UTF8String](numItems)
      var off = offsetBytes
      var i = 0
      while (i < numItems) {
        val len = mem.getInt(off); off += 4
        val b = new Array[Byte](len)
        mem.getByteArray(off, b, 0, len); off += len
        out(i) = UTF8String.fromBytes(b)
        i += 1
      }
      out
    }
    override def sizeOf(item: UTF8String): Int = 4 + item.numBytes()
    override def sizeOf(mem: Memory, offsetBytes: Long, numItems: Int): Int = {
      var off = offsetBytes; var i = 0
      while (i < numItems) { off += 4 + mem.getInt(off); i += 1 }
      (off - offsetBytes).toInt
    }
    override def toString(item: UTF8String): String = item.toString
    override def getClassOfT: Class[UTF8String] = classOf[UTF8String]
  }

  /** Table-level STRING quantile sketch for `col`: merge of every file's
    * KllItemsSketch[UTF8String] — same every-file-or-None refusal as
    * [[mergedKll]].
    */
  def mergedKllStr(stats: Seq[FileStats], col: String)
      : Option[org.apache.datasketches.kll.KllItemsSketch[UTF8String]] = {
    val sketches = stats.map(_.cols.get(col).flatMap(_.kllStr))
    if (sketches.isEmpty || sketches.exists(_.isEmpty)) return None
    val m = org.apache.datasketches.kll.KllItemsSketch
      .newHeapInstance(KllK, Utf8Order, Utf8ItemsSerDe)
    sketches.flatten.foreach(b => m.merge(
      org.apache.datasketches.kll.KllItemsSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(b), Utf8Order, Utf8ItemsSerDe)))
    Some(m)
  }

  /** Metadata-only (head row count, matching-row estimate) for a RANGE
    * predicate on `col` — the quantile twin of [[headEqualityEstimate]]:
    * the fraction between the bounds comes off the HEAD snapshot's
    * merged KLL ranks (±~1.65%% normalized rank error), never a count
    * job. Each bound is (value, inclusive); None means unbounded on that
    * side. Returns None when any live file lacks a sketch for the column
    * (callers fall back to the counted dispatch). Row-level masks are
    * tolerated as over-counts, same argument as the equality estimate:
    * for a dispatch decision an estimate that errs HIGH only routes to
    * the index, never to an oversized exact scan.
    */
  def headRangeEstimate(fs: FileSystem, dir: Path, col: String,
                        lower: Option[(Double, Boolean)],
                        upper: Option[(Double, Boolean)]): Option[(Long, Long)] = {
    require(lower.nonEmpty || upper.nonEmpty,
      "headRangeEstimate: at least one bound")
    val versions = GraftTable.manifestVersions(fs, dir)
    val files =
      if (versions.nonEmpty)
        GraftTable.readFullEntries(fs, dir, versions.last).map(_.file)
      else GraftTable.dataFiles(fs, dir)
    if (files.isEmpty) return None
    val all = GraftFileLog.stats(fs, dir)
    val fileStats = files.flatMap(f => all.get(new Path(f).getName))
    if (fileStats.size != files.size) return None
    val rows = fileStats.map(_.rows).sum
    mergedKll(fileStats, col).map { sk =>
      if (sk.isEmpty) (rows, 0L)
      else {
        import org.apache.datasketches.quantilescommon.QuantileSearchCriteria._
        // getRank(v, INCLUSIVE) = fraction <= v; EXCLUSIVE = fraction < v.
        // [lo <= x] subtracts the fraction STRICTLY below lo, so an
        // inclusive lower bound uses the EXCLUSIVE rank (and vice versa)
        val ub = upper.map { case (v, incl) =>
          sk.getRank(v, if (incl) INCLUSIVE else EXCLUSIVE) }.getOrElse(1.0)
        val lb = lower.map { case (v, incl) =>
          sk.getRank(v, if (incl) EXCLUSIVE else INCLUSIVE) }.getOrElse(0.0)
        (rows, math.round(sk.getN * math.max(0.0, ub - lb)))
      }
    }
  }

  /** STRING twin of [[headRangeEstimate]] (distinct name — the bound
    * tuples erase identically): match estimate for `col BETWEEN lo AND
    * hi` / one-sided ranges on a STRING column, ranks off the merged
    * KllItemsSketch in UTF8String binary order — exactly the order
    * Spark sorts and [[cmpStored]] prunes with.
    */
  def headRangeEstimateStr(fs: FileSystem, dir: Path, col: String,
                           lower: Option[(String, Boolean)],
                           upper: Option[(String, Boolean)]): Option[(Long, Long)] = {
    require(lower.nonEmpty || upper.nonEmpty,
      "headRangeEstimateStr: at least one bound")
    val versions = GraftTable.manifestVersions(fs, dir)
    val files =
      if (versions.nonEmpty)
        GraftTable.readFullEntries(fs, dir, versions.last).map(_.file)
      else GraftTable.dataFiles(fs, dir)
    if (files.isEmpty) return None
    val all = GraftFileLog.stats(fs, dir)
    val fileStats = files.flatMap(f => all.get(new Path(f).getName))
    if (fileStats.size != files.size) return None
    val rows = fileStats.map(_.rows).sum
    mergedKllStr(fileStats, col).map { sk =>
      if (sk.isEmpty) (rows, 0L)
      else {
        import org.apache.datasketches.quantilescommon.QuantileSearchCriteria._
        // same bound/criteria algebra as the numeric twin; bounds are
        // truncated to the SAME prefix the items were sketched at
        // (order-preserving — ranks blur only within the bound's
        // shared-prefix mass)
        val ub = upper.map { case (v, incl) =>
          sk.getRank(strSketchItem(UTF8String.fromString(v)),
            if (incl) INCLUSIVE else EXCLUSIVE) }.getOrElse(1.0)
        val lb = lower.map { case (v, incl) =>
          sk.getRank(strSketchItem(UTF8String.fromString(v)),
            if (incl) EXCLUSIVE else INCLUSIVE) }.getOrElse(0.0)
        (rows, math.round(sk.getN * math.max(0.0, ub - lb)))
      }
    }
  }

  /** Backfill NDV sketches for current files whose stats lack them
    * (footer-lifted entries from compaction / analyzeTable — parquet
    * footers carry no NDV): ONE distributed job reads just the eligible
    * columns of just those files, re-keys nothing (size/rows/min/max are
    * preserved), and appends the enriched entries (the log's last-wins
    * order supersedes the sparse ones). Returns files enriched.
    */
  def analyzeNdv(spark: SparkSession, table: GraftTable): Int = {
    val dir = new Path(table.dir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val eligible = table.physicalSchema.fields.toSeq
      .filter(f => kindOf(f.dataType) match {
        case KindLong | KindDouble | KindString | KindDecimal => true
        case _ => false
      })
    if (eligible.isEmpty) return 0
    val files = table.currentDataFiles(fs)
    val have = GraftFileLog.stats(fs, dir)
    // a file needs the pass when any eligible column lacks EITHER sketch
    // kind it should carry — the NDV or (round 13) its quantile twin
    // (doubles for numeric/decimal, items for string)
    val missing = files.filter { f =>
      val st = have.get(new Path(f).getName)
      st.isEmpty || eligible.exists { e =>
        val cs = st.get.cols.get(e.name)
        cs.forall(_.ndv.isEmpty) || (kindOf(e.dataType) match {
          case KindString => cs.forall(_.kllStr.isEmpty)
          case _ => cs.forall(_.kll.isEmpty)
        })
      }
    }
    if (missing.isEmpty) return 0
    val readSchema = StructType(eligible)
    val aliases = table.aliases
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val names = eligible.map(_.name).toArray
    val dts = eligible.map(_.dataType).toArray
    val built = spark.sparkContext
      .parallelize(missing, GraftMaintenance.parallelism(spark, missing.size))
      .map { f =>
        val p = new Path(f)
        val sketches = dts.map(_ =>
          new org.apache.datasketches.hll.HllSketch(NdvLgK))
        // quantile twins, rebuilt in the SAME single pass (round 13 —
        // compaction/footer-lift loses them like the NDVs): doubles for
        // numeric/decimal kinds, UTF8-ordered items for strings
        val kllDs = dts.map(dt => kindOf(dt) match {
          case KindLong | KindDouble | KindDecimal =>
            org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(KllK)
          case _ => null
        })
        val kllSs = dts.map(dt => kindOf(dt) match {
          case KindString => org.apache.datasketches.kll.KllItemsSketch
            .newHeapInstance(KllK,
              Utf8Order, Utf8ItemsSerDe)
          case _ => null
        })
        val reader = ParquetRowIO.reader(p, conf.readConf(readSchema), None, aliases)
        try {
          var r = reader.read()
          while (r != null) {
            var i = 0
            while (i < dts.length) {
              if (!r.isNullAt(i)) dts(i) match {
                case ByteType =>
                  val v = r.getByte(i).toLong
                  sketches(i).update(v); kllDs(i).update(v.toDouble)
                case ShortType =>
                  val v = r.getShort(i).toLong
                  sketches(i).update(v); kllDs(i).update(v.toDouble)
                case IntegerType | DateType =>
                  val v = r.getInt(i).toLong
                  sketches(i).update(v); kllDs(i).update(v.toDouble)
                case LongType | TimestampType | TimestampNTZType =>
                  val v = r.getLong(i)
                  sketches(i).update(v); kllDs(i).update(v.toDouble)
                case FloatType =>
                  val d = r.getFloat(i).toDouble
                  if (!java.lang.Double.isNaN(d)) {
                    sketches(i).update(d); kllDs(i).update(d)
                  }
                case DoubleType =>
                  val d = r.getDouble(i)
                  if (!java.lang.Double.isNaN(d)) {
                    sketches(i).update(d); kllDs(i).update(d)
                  }
                case dt: DecimalType =>
                  val d = r.getDecimal(i, dt.precision, dt.scale)
                    .toJavaBigDecimal.doubleValue()
                  sketches(i).update(d); kllDs(i).update(d)
                case StringType =>
                  val v = r.getUTF8String(i)
                  sketches(i).update(v.getBytes)
                  kllSs(i).update(strSketchItem(v))
                case _ =>
              }
              i += 1
            }
            r = reader.read()
          }
        } finally reader.close()
        val byCol = names.indices.map { i =>
          names(i) -> (sketches(i).toCompactByteArray,
            Option(kllDs(i)).map(_.toByteArray),
            Option(kllSs(i)).map(_.toByteArray))
        }.toMap
        (p.getName, byCol)
      }
      .collect().toSeq
    val enriched = built.map { case (name, byCol) =>
      val st = have.getOrElse(name, FileStats(
        fs.getFileStatus(new Path(files.find(f =>
          new Path(f).getName == name).get)).getLen, -1L, Map.empty))
      name -> st.copy(cols = names.map { c =>
        val cs = st.cols.getOrElse(c, ColStats(-1L, None, None))
        val (ndvB, kllB, klsB) = byCol(c)
        c -> cs.copy(ndv = Some(ndvB), kll = kllB, kllStr = klsB)
      }.toMap ++ st.cols.filterNot(kv => names.contains(kv._1)))
    }
    GraftFileLog.publish(fs, dir, enriched, Nil)
    enriched.size
  }

  // ---- filter evaluation (planning side) ---------------------------------

  /** True iff the recorded stats PROVE no row of the file can satisfy the
    * conjunction of `filters`. Three-valued and negation-sound: `canDrop`
    * and `allMatch` are mutually recursive through `Not` (the classic
    * stats-pruning subtlety — Not(exists-match) is NOT exists-not-match).
    */
  def canDrop(filters: Seq[Filter], schema: StructType, st: FileStats): Boolean =
    st.rows == 0 || filters.exists(f => drop1(f, schema, st))

  private def col(c: String, schema: StructType,
                  st: FileStats): Option[(DataType, ColStats)] =
    schema.fields.find(_.name == c).flatMap(f =>
      st.cols.get(c).map(cs => (f.dataType, cs)))

  private def nullsKnown(cs: ColStats): Boolean = cs.nulls >= 0
  private def allNull(cs: ColStats, rows: Long): Boolean =
    nullsKnown(cs) && cs.nulls == rows
  private def noNulls(cs: ColStats): Boolean = nullsKnown(cs) && cs.nulls == 0

  /** Compare two recorded CANONICAL bounds under the column's type (both
    * sides came from the same Tracker encoding); None = type outside the
    * tracked kinds. String order is UTF8String binary order — the same
    * order Spark sorts by, so top-N planning agrees with the Sort above.
    */
  def cmpStored(dt: DataType, a: String, b: String): Option[Int] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType =>
      Some(java.lang.Long.compare(a.toLong, b.toLong))
    case FloatType | DoubleType =>
      Some(java.lang.Double.compare(a.toDouble, b.toDouble))
    case StringType =>
      Some(UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)))
    case _: DecimalType =>
      Some(new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)))
    case BooleanType => Some(a.compareTo(b)) // "false" < "true"
    case _ => None
  }

  /** Compare a recorded canonical bound against a filter value under the
    * column's type; None = not comparable (unexpected value class).
    */
  private def cmp(dt: DataType, stored: String, v: Any): Option[Int] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      v match {
        case n: Number => Some(java.lang.Long.compare(stored.toLong, n.longValue()))
        case _ => None
      }
    case DateType =>
      val days = v match {
        case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d))
        case d: java.time.LocalDate => Some(DateTimeUtils.localDateToDays(d))
        case _ => None
      }
      days.map(d => java.lang.Long.compare(stored.toLong, d.toLong))
    case TimestampType =>
      val micros = v match {
        case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t))
        case t: java.time.Instant => Some(DateTimeUtils.instantToMicros(t))
        case _ => None
      }
      micros.map(m => java.lang.Long.compare(stored.toLong, m))
    case TimestampNTZType =>
      v match {
        case t: java.time.LocalDateTime =>
          Some(java.lang.Long.compare(stored.toLong,
            DateTimeUtils.localDateTimeToMicros(t)))
        case _ => None
      }
    case FloatType | DoubleType =>
      val d = v match {
        case f: java.lang.Float => Some(f.toDouble)
        case d: java.lang.Double => Some(d.doubleValue())
        case _ => None
      }
      d.filterNot(java.lang.Double.isNaN)
        .map(x => java.lang.Double.compare(stored.toDouble, x))
    case StringType =>
      v match {
        case s: String => Some(UTF8String.fromString(stored)
          .binaryCompare(UTF8String.fromString(s)))
        case u: UTF8String => Some(UTF8String.fromString(stored).binaryCompare(u))
        case _ => None
      }
    case _: DecimalType =>
      val bd = v match {
        case b: java.math.BigDecimal => Some(b)
        case b: BigDecimal => Some(b.bigDecimal)
        case _ => None
      }
      bd.map(b => new java.math.BigDecimal(stored).compareTo(b))
    case BooleanType =>
      v match {
        case b: java.lang.Boolean =>
          Some(java.lang.Boolean.compare(stored.toBoolean, b))
        case _ => None
      }
    case _ => None
  }

  /** cmp(min, v) when a bound exists. */
  private def cmpMin(dt: DataType, cs: ColStats, v: Any): Option[Int] =
    cs.min.flatMap(cmp(dt, _, v))
  private def cmpMax(dt: DataType, cs: ColStats, v: Any): Option[Int] =
    cs.max.flatMap(cmp(dt, _, v))

  /** Compare two CANONICAL stored strings of one column — the same
    * per-type total order [[cmp]] applies between a stored bound and a
    * probe value, applied bound-vs-bound. None for uncomparable types.
    */
  private def cmpCanonical(dt: DataType, a: String, b: String): Option[Int] =
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType =>
        Some(java.lang.Long.compare(a.toLong, b.toLong))
      case FloatType | DoubleType =>
        Some(java.lang.Double.compare(a.toDouble, b.toDouble))
      case StringType =>
        Some(UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)))
      case _: DecimalType =>
        Some(new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)))
      case BooleanType =>
        Some(java.lang.Boolean.compare(a.toBoolean, b.toBoolean))
      case _ => None
    }

  /** File-SKIPPING effectiveness report — the metadata-only OPTIMIZE
    * advisory a 100 TB table needs before deciding WHAT to cluster or
    * Z-order by. Per comparable column over `live` files' recorded
    * bounds: the average number of OTHER files a file's [min,max] range
    * overlaps, as a fraction of (files-1). 0.0 = disjoint ranges (a
    * point predicate plans ~one file — perfectly clustered); 1.0 = every
    * range overlaps every other (min/max pruning is useless — the column
    * is a Z-order/sort candidate, or just not clustered). Computed by a
    * sort + binary-search sweep over the stats entries — O(F log F)
    * metadata-scale work on the driver, the same cost class as planning;
    * zero data IO. Returns (column, filesWithBounds, avgOverlapFraction).
    */
  def skipEffectiveness(schema: StructType,
                        live: Seq[FileStats]): Seq[(String, Int, Double)] =
    schema.fields.toSeq.flatMap { f =>
      val dt = f.dataType
      val comparable = dt match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
             TimestampType | TimestampNTZType | FloatType | DoubleType |
             StringType | BooleanType => true
        case _: DecimalType => true
        case _ => false
      }
      val ranges =
        if (!comparable) Nil
        else live.flatMap(st => st.cols.get(f.name).flatMap(cs =>
          for { mn <- cs.min; mx <- cs.max } yield (mn, mx)))
      val n = ranges.size
      if (!comparable || n == 0) None
      else if (n < 2) Some((f.name, n, 0.0))
      else {
        val ord = new Ordering[String] {
          def compare(a: String, b: String): Int =
            cmpCanonical(dt, a, b).getOrElse(0)
        }
        val mins = ranges.map(_._1).sorted(ord).toIndexedSeq
        val maxs = ranges.map(_._2).sorted(ord).toIndexedSeq
        // files overlapping [mn, mx] = |{min_j <= mx}| - |{max_j < mn}| - 1
        def countLe(sorted: IndexedSeq[String], v: String): Int = {
          var lo = 0; var hi = sorted.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (ord.compare(sorted(mid), v) <= 0) lo = mid + 1 else hi = mid
          }
          lo
        }
        def countLt(sorted: IndexedSeq[String], v: String): Int = {
          var lo = 0; var hi = sorted.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (ord.compare(sorted(mid), v) < 0) lo = mid + 1 else hi = mid
          }
          lo
        }
        val totalOverlap = ranges.map { case (mn, mx) =>
          (countLe(mins, mx) - countLt(maxs, mn) - 1).toLong
        }.sum
        Some((f.name, n, totalOverlap.toDouble / (n.toDouble * (n - 1))))
      }
    }

  private def drop1(f: Filter, schema: StructType, st: FileStats): Boolean = f match {
    case EqualTo(c, v) => col(c, schema, st).exists { case (dt, cs) =>
      v != null && (allNull(cs, st.rows) ||
        cmpMin(dt, cs, v).exists(_ > 0) || cmpMax(dt, cs, v).exists(_ < 0))
    }
    case EqualNullSafe(c, v) =>
      if (v == null) col(c, schema, st).exists { case (_, cs) => noNulls(cs) }
      else drop1(EqualTo(c, v), schema, st)
    case In(c, vs) => col(c, schema, st).exists { case (dt, cs) =>
      vs.nonEmpty && vs.forall(v =>
        v == null || allNull(cs, st.rows) ||
          cmpMin(dt, cs, v).exists(_ > 0) || cmpMax(dt, cs, v).exists(_ < 0))
    }
    case LessThan(c, v) => col(c, schema, st).exists { case (dt, cs) =>
      v != null && (allNull(cs, st.rows) || cmpMin(dt, cs, v).exists(_ >= 0))
    }
    case LessThanOrEqual(c, v) => col(c, schema, st).exists { case (dt, cs) =>
      v != null && (allNull(cs, st.rows) || cmpMin(dt, cs, v).exists(_ > 0))
    }
    case GreaterThan(c, v) => col(c, schema, st).exists { case (dt, cs) =>
      v != null && (allNull(cs, st.rows) || cmpMax(dt, cs, v).exists(_ <= 0))
    }
    case GreaterThanOrEqual(c, v) => col(c, schema, st).exists { case (dt, cs) =>
      v != null && (allNull(cs, st.rows) || cmpMax(dt, cs, v).exists(_ < 0))
    }
    case IsNull(c) => col(c, schema, st).exists { case (_, cs) => noNulls(cs) }
    case IsNotNull(c) =>
      col(c, schema, st).exists { case (_, cs) => allNull(cs, st.rows) }
    case StringStartsWith(c, p) => col(c, schema, st).exists { case (dt, cs) =>
      // every value < p  ⇒  no value can carry prefix p (prefixed ⇒ ≥ p)
      dt == StringType &&
        (allNull(cs, st.rows) || cmpMax(dt, cs, p).exists(_ < 0))
    }
    case And(l, r) => drop1(l, schema, st) || drop1(r, schema, st)
    case Or(l, r) => drop1(l, schema, st) && drop1(r, schema, st)
    case Not(inner) => all1(inner, schema, st)
    case _ => false
  }

  /** True iff the stats PROVE every row satisfies `f` (used only to
    * negate soundly). Conservative: false when unsure.
    */
  private def all1(f: Filter, schema: StructType, st: FileStats): Boolean = f match {
    case EqualTo(c, v) => col(c, schema, st).exists { case (dt, cs) =>
      v != null && noNulls(cs) &&
        cmpMin(dt, cs, v).contains(0) && cmpMax(dt, cs, v).contains(0)
    }
    case In(c, vs) => vs.exists(v => all1(EqualTo(c, v), schema, st))
    case LessThan(c, v) => col(c, schema, st).exists { case (dt, cs) =>
      v != null && noNulls(cs) && cmpMax(dt, cs, v).exists(_ < 0)
    }
    case LessThanOrEqual(c, v) => col(c, schema, st).exists { case (dt, cs) =>
      v != null && noNulls(cs) && cmpMax(dt, cs, v).exists(_ <= 0)
    }
    case GreaterThan(c, v) => col(c, schema, st).exists { case (dt, cs) =>
      v != null && noNulls(cs) && cmpMin(dt, cs, v).exists(_ > 0)
    }
    case GreaterThanOrEqual(c, v) => col(c, schema, st).exists { case (dt, cs) =>
      v != null && noNulls(cs) && cmpMin(dt, cs, v).exists(_ >= 0)
    }
    case IsNull(c) => col(c, schema, st).exists { case (_, cs) => allNull(cs, st.rows) }
    case IsNotNull(c) => col(c, schema, st).exists { case (_, cs) => noNulls(cs) }
    case And(l, r) => all1(l, schema, st) && all1(r, schema, st)
    case Or(l, r) => all1(l, schema, st) || all1(r, schema, st)
    case Not(inner) => drop1(inner, schema, st)
    case _ => false
  }

  // ---- footer lift (maintenance / backfill) ------------------------------

  /** Extract FileStats from one parquet file's FOOTER (metadata pages
    * only). Used by maintenance rewrites — which go through Spark's
    * parquet writer, so the values were never seen by a Tracker — and by
    * `analyzeTable` backfills. Columns whose physical/logical type doesn't
    * match the catalog's write contract (INT96 timestamps from foreign
    * tools, decimals) are skipped: absent stats mean footer-probe
    * fallback, never a wrong answer.
    */
  def fromFooter(path: Path, conf: org.apache.hadoop.conf.Configuration,
                 schema: StructType): FileStats = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._

    val size = path.getFileSystem(conf).getFileStatus(path).getLen
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // a ZERO-row-group file (Spark's writer emits one for an empty
      // task output, e.g. the empty matched side of a lineage upsert's
      // union): rows = 0, honest empty per-column entries — without the
      // guard, chunks.head below dereferences an empty list
      if (blocks.isEmpty)
        return FileStats(size, 0L, schema.fields.map(f =>
          f.name -> ColStats(0L, None, None)).toMap)
      val byCol = schema.fields.flatMap { f =>
        val chunks = blocks.flatMap(_.getColumns.asScala
          .find(_.getPath.toDotString == f.name))
        if (chunks.size != blocks.size) None
        else {
          val stats = chunks.map(_.getStatistics)
          if (stats.exists(s => s == null)) None
          else {
            val nulls =
              if (stats.forall(_.isNumNullsSet)) stats.map(_.getNumNulls).sum
              else -1L
            val prim = chunks.head.getPrimitiveType
            val anno = prim.getLogicalTypeAnnotation
            def micros: Boolean = anno match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
              case _ => false
            }
            // a chunk with no recorded non-null value contributes no bound
            val valued = stats.filter(_.hasNonNullValue)
            def canonOf(v0: Any): Option[String] = {
              val v = v0.asInstanceOf[AnyRef]
              (f.dataType, prim.getPrimitiveTypeName) match {
              case (ByteType | ShortType | IntegerType | DateType, INT32) =>
                Some(v.asInstanceOf[java.lang.Integer].longValue().toString)
              case (LongType, INT64) =>
                Some(v.asInstanceOf[java.lang.Long].toString)
              case (TimestampType | TimestampNTZType, INT64) if micros =>
                Some(v.asInstanceOf[java.lang.Long].toString)
              case (FloatType, FLOAT) =>
                val d = v.asInstanceOf[java.lang.Float].doubleValue()
                if (java.lang.Double.isNaN(d)) None
                else Some(java.lang.Double.toString(d))
              case (DoubleType, DOUBLE) =>
                val d = v.asInstanceOf[java.lang.Double].doubleValue()
                if (java.lang.Double.isNaN(d)) None
                else Some(java.lang.Double.toString(d))
              case (StringType, BINARY) =>
                Some(new String(v.asInstanceOf[Binary].getBytes, UTF_8))
              case (BooleanType, BOOLEAN) =>
                Some(v.asInstanceOf[java.lang.Boolean].toString)
              case _ => None
              }
            }
            val minC = valued.map(s => canonOf(s.genericGetMin))
            val maxC = valued.map(s => canonOf(s.genericGetMax))
            val (mn, mx) =
              if (valued.isEmpty || minC.exists(_.isEmpty) || maxC.exists(_.isEmpty))
                (None, None)
              else {
                // merge bounds across row groups with the SAME comparator
                // the planner uses (canonical-string cmp under f.dataType)
                def pick(cands: Seq[String], takeMin: Boolean): String =
                  cands.reduce { (a, b) =>
                    val c = cmp(f.dataType, a, parseBack(f.dataType, b)).getOrElse(0)
                    if ((c <= 0) == takeMin) a else b
                  }
                (Some(pick(minC.flatten, takeMin = true)),
                 Some(pick(maxC.flatten, takeMin = false)))
              }
            if (mn.isEmpty && nulls < 0) None
            else Some(f.name -> ColStats(nulls, mn, mx))
          }
        }
      }.toMap
      FileStats(size, rows, byCol)
    } finally r.close()
  }

  /** Turn a canonical string back into a filter-comparable value for the
    * footer-merge path (cmp's right-hand side).
    */
  private def parseBack(dt: DataType, s: String): Any = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      java.lang.Long.valueOf(s.toLong)
    case DateType => java.time.LocalDate.ofEpochDay(s.toLong)
    case TimestampType => DateTimeUtils.microsToInstant(s.toLong)
    case TimestampNTZType => DateTimeUtils.microsToLocalDateTime(s.toLong)
    case FloatType | DoubleType => java.lang.Double.valueOf(s.toDouble)
    case StringType => s
    case d: DecimalType => new java.math.BigDecimal(s)
    case BooleanType => java.lang.Boolean.valueOf(s.toBoolean)
    case _ => s
  }
}
