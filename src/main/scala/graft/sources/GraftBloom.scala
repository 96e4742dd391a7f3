package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.sources.{EqualTo, Filter, In, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** PER-FILE BLOOM INDEX — point-lookup pruning for columns the table is
  * NOT clustered on. Manifest min/max stats prune range-clustered columns
  * (every key range disjoint); a point predicate on any OTHER key (the
  * "find this doc_id in a time-partitioned corpus" lookup) overlaps every
  * file's range and plans the whole table. A per-file Bloom filter on the
  * declared columns answers "this file provably does not contain key K"
  * from kilobytes of metadata: at 100 TB, a point lookup plans the
  * handful of files whose filter fires instead of every file. This is
  * parquet's column-index bloom idea lifted to the MANIFEST level (one
  * sequential metadata read, no per-file footer IO at plan time) — the
  * same move Iceberg/Delta make with file stats.
  *
  * Soundness:
  *  - a Bloom filter has NO false negatives: `mightContain == false`
  *    PROVES absence, so pruning can never drop a matching file; false
  *    positives only plan extra files (pushed filters stay residual-exact);
  *  - values are hashed via the SAME canonical strings the stats log uses,
  *    so probe and build agree bit-for-bit across types;
  *  - NULL never prunes (filters are null-rejecting; blooms hold only
  *    non-null values);
  *  - files WITHOUT an index entry are never pruned (new writes after a
  *    build, compaction outputs under fresh names — all conservative);
  *  - deletion-vector masks only REMOVE rows, so an indexed file stays a
  *    sound over-approximation under merge-on-read deletes.
  *
  * Lifecycle: [[buildIndex]] is ONE distributed job (a column-pruned read
  * per file, executor-side); entries are keyed by (data-file NAME,
  * column) in the bloom log that [[GraftFileLog]] stores, which also
  * drops the entries of destroyed files (vacuum/purge — dead filters also
  * stop a membership probe against erased values' old files).
  */
object GraftBloom {

  private val Fpp = 0.01

  /** Key-space marker for per-file TRIGRAM blooms (substring pruning):
    * entries live under (file, column + TrgmSuffix), sharing the value
    * blooms' log. '#' cannot appear
    * in a parsed column name, so the two key spaces never collide.
    */
  val TrgmSuffix = "#trgm"

  /** INDEX-ON-WRITE table properties: CSV column lists. Declared columns
    * get their per-file bloom / trigram entries recorded by the WRITER'S
    * hot loop and landed with the commit — new files prune immediately,
    * no separate `graft_*_build` pass, exactly how the stats log already
    * rides every commit. The build TVFs remain the backfill verbs for
    * pre-declaration files.
    */
  val BloomColsProp = "index.bloom.cols"
  val TrgmColsProp = "index.trgm.cols"

  /** Value-bloom column types (plus decimals): those with a canonical string. */
  private val Supported = Set[DataType](ByteType, ShortType, IntegerType,
    LongType, DateType, TimestampType, TimestampNTZType, FloatType, DoubleType,
    StringType, BooleanType)

  /** Parse + validate the index-on-write column declarations against the
    * physical schema — LOUD at write-builder construction (driver side),
    * not task time. Returns (bloomCols, trgmCols).
    */
  def indexOnWriteCols(props: Map[String, String],
                       physicalSchema: StructType): (Seq[String], Seq[String]) = {
    def parse(k: String): Seq[String] =
      props.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val b = parse(BloomColsProp)
    b.foreach { c =>
      val f = physicalSchema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"$BloomColsProp: column '$c' is not a physical column " +
            "(partition columns prune by path already)"))
      require(Supported.contains(f.dataType) ||
          f.dataType.isInstanceOf[DecimalType],
        s"$BloomColsProp: column '$c' has unsupported type " +
          s"${f.dataType.simpleString}")
    }
    val t = parse(TrgmColsProp)
    t.foreach { c =>
      val f = physicalSchema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"$TrgmColsProp: column '$c' is not a physical column"))
      require(f.dataType == StringType,
        s"$TrgmColsProp: column '$c' is ${f.dataType.simpleString}; " +
          "trigram indexing is for STRING")
    }
    (b, t)
  }

  private def bloomBytes(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Hot-loop index tracker for index-on-write: one per open data file,
    * updated next to the stats Tracker. Value blooms insert canonical
    * strings as they stream; trigram columns accumulate the distinct gram
    * SET (bounded by the character-trigram space, not row count) and
    * serialize a right-sized bloom at close.
    */
  final class WriteTracker(schema: StructType, bloomCols: Seq[String],
                           trgmCols: Seq[String],
                           expectedRows: Long = 1000000L) {
    private val bIs = bloomCols.map(schema.fieldIndex).toArray
    private val bDts = bIs.map(i => schema.fields(i).dataType)
    private val blooms = bIs.map(_ => BloomFilter.create(expectedRows, Fpp))
    private val tIs = trgmCols.map(schema.fieldIndex).toArray
    private val gramSets =
      tIs.map(_ => new scala.collection.mutable.HashSet[String])

    def update(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      var i = 0
      while (i < bIs.length) {
        if (!row.isNullAt(bIs(i)))
          canonInternal(bDts(i), row.get(bIs(i), bDts(i)))
            .foreach(s => blooms(i).putBinary(s.getBytes(UTF_8)))
        i += 1
      }
      var j = 0
      while (j < tIs.length) {
        if (!row.isNullAt(tIs(j)))
          gramSets(j) ++= grams(row.getUTF8String(tIs(j)).toString)
        j += 1
      }
    }

    /** (column key, serialized filter) per declared column. */
    def result(): Seq[(String, Array[Byte])] =
      bloomCols.zip(blooms).map { case (c, bf) => c -> bloomBytes(bf) } ++
        trgmCols.zip(gramSets).map { case (c, set) =>
          val bf = BloomFilter.create(math.max(1000L, set.size.toLong), Fpp)
          set.foreach(g => bf.putBinary(g.getBytes(UTF_8)))
          (c + TrgmSuffix) -> bloomBytes(bf)
        }
  }

  /** All character 3-grams of `s` (the pg_trgm idea): a string contains
    * substring v (|v| ≥ 3) only if it contains EVERY 3-gram of v, so a
    * per-file bloom over data-side 3-grams proves "no row can contain v"
    * whenever any probe gram is definitely absent. Shorter strings
    * contribute nothing / prove nothing (neutral).
    */
  def grams(s: String): Seq[String] =
    if (s == null || s.length < 3) Nil else s.sliding(3).distinct.toSeq

  // ---- line codec (stored by GraftFileLog) ------------------------------

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private[sources] def encodeLine(file: String, col: String,
                                  bytes: Array[Byte]): String =
    s"${enc(file)}\t${enc(col)}\t" + Base64.getEncoder.encodeToString(bytes)

  private[sources] def decodeLine(l: String): Option[((String, String), Array[Byte])] =
    l.split("\t", -1) match {
      case Array(f, c, b64) =>
        Some((dec(f), dec(c)) -> Base64.getDecoder.decode(b64))
      case _ => None
    }

  // ---- canonical hashing (shared with the stats comparator) -------------

  /** Internal row value → canonical string (the stats log's encoding). */
  private def canonInternal(dt: DataType, v: Any): Option[String] = dt match {
    case ByteType => Some(v.asInstanceOf[Byte].toLong.toString)
    case ShortType => Some(v.asInstanceOf[Short].toLong.toString)
    case IntegerType | DateType => Some(v.asInstanceOf[Int].toLong.toString)
    case LongType | TimestampType | TimestampNTZType =>
      Some(v.asInstanceOf[Long].toString)
    case FloatType => Some(java.lang.Double.toString(v.asInstanceOf[Float].toDouble))
    case DoubleType => Some(java.lang.Double.toString(v.asInstanceOf[Double]))
    case StringType => Some(v.asInstanceOf[UTF8String].toString)
    case _: DecimalType =>
      Some(v.asInstanceOf[org.apache.spark.sql.types.Decimal]
        .toJavaBigDecimal.toPlainString)
    case BooleanType => Some(v.asInstanceOf[Boolean].toString)
    case _ => None
  }

  /** External filter literal → canonical string (probe side). */
  def canonExternal(dt: DataType, v: Any): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => v match {
      case n: Number => Some(n.longValue().toString)
      case _ => None
    }
    case DateType => v match {
      case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d).toLong.toString)
      case d: java.time.LocalDate =>
        Some(DateTimeUtils.localDateToDays(d).toLong.toString)
      case _ => None
    }
    case TimestampType => v match {
      case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t).toString)
      case t: java.time.Instant => Some(DateTimeUtils.instantToMicros(t).toString)
      case _ => None
    }
    case TimestampNTZType => v match {
      case t: java.time.LocalDateTime =>
        Some(DateTimeUtils.localDateTimeToMicros(t).toString)
      case _ => None
    }
    case FloatType | DoubleType => v match {
      case f: java.lang.Float => Some(java.lang.Double.toString(f.toDouble))
      case d: java.lang.Double => Some(java.lang.Double.toString(d.doubleValue()))
      case _ => None
    }
    case StringType => v match {
      case s: String => Some(s)
      case u: UTF8String => Some(u.toString)
      case _ => None
    }
    case _: DecimalType => v match {
      case b: java.math.BigDecimal => Some(b.toPlainString)
      case b: BigDecimal => Some(b.bigDecimal.toPlainString)
      case _ => None
    }
    case BooleanType => v match {
      case b: java.lang.Boolean => Some(b.toString)
      case _ => None
    }
    case _ => None
  }

  // ---- build ------------------------------------------------------------

  /** Build (or refresh) the per-file index for `cols` over the CURRENT
    * snapshot's data files: one distributed job, one column-pruned
    * parquet read per file, executor-side ([[GraftFileLog.describe]]).
    * Returns files indexed.
    */
  def buildIndex(spark: SparkSession, table: GraftTable, cols: Seq[String]): Int = {
    require(cols.nonEmpty, "buildIndex: at least one column")
    val fields = cols.map(c => table.schema().fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"buildIndex: column '$c' is not in the table schema")))
    fields.foreach(f => require(
      Supported.contains(f.dataType) || f.dataType.isInstanceOf[DecimalType],
      s"buildIndex: column '${f.name}' has unsupported type " +
        s"${f.dataType.simpleString}"))
    fields.foreach(f => require(!f.name.contains(TrgmSuffix),
      s"buildIndex: column name '${f.name}' collides with the reserved " +
        s"'$TrgmSuffix' key suffix"))
    build(spark, table, cols, Nil)
  }

  /** Build (or refresh) the per-file TRIGRAM index for string `cols` over
    * the current snapshot's data files — substring (`LIKE '%needle%'`)
    * file skipping, the pg_trgm idea lifted to the manifest level. One
    * distributed job; per file each column's distinct 3-gram set is
    * collected first (bounded by the character-trigram space, NOT by row
    * count) and the bloom is sized to it, so filter bytes stay kilobytes
    * per file regardless of row count. Returns files indexed.
    */
  def buildTrigramIndex(spark: SparkSession, table: GraftTable,
                        cols: Seq[String]): Int = {
    require(cols.nonEmpty, "buildTrigramIndex: at least one column")
    val fields = cols.map(c => table.schema().fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"buildTrigramIndex: column '$c' is not in the table schema")))
    fields.foreach(f => require(f.dataType == StringType,
      s"buildTrigramIndex: column '${f.name}' is " +
        s"${f.dataType.simpleString}; trigram indexing is for STRING"))
    fields.foreach(f => require(!f.name.contains(TrgmSuffix),
      s"buildTrigramIndex: column name '${f.name}' collides with the " +
        s"reserved '$TrgmSuffix' key suffix"))
    build(spark, table, Nil, cols)
  }

  private def build(spark: SparkSession, table: GraftTable,
                    bloomCols: Seq[String], trgmCols: Seq[String]): Int = {
    val dir = new Path(table.dir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val files = table.currentDataFiles(fs)
    val (_, entries) =
      GraftFileLog.describe(spark, table, files, None, bloomCols, trgmCols)
    GraftFileLog.publish(fs, dir, Nil, entries)
    files.size
  }

  // ---- planning-side pruning -------------------------------------------

  /** True iff the index PROVES no row of `fileName` satisfies the
    * conjunction of `filters` — only point predicates (=, IN) consult the
    * filter; everything else is neutral. Missing entries never prune.
    */
  def canDrop(filters: Seq[Filter], schema: StructType,
              index: Map[(String, String), Array[Byte]],
              cache: scala.collection.mutable.Map[(String, String), BloomFilter],
              fileName: String): Boolean =
    filters.exists(f => drop1(f, schema, index, cache, fileName))

  private def bloomOf(index: Map[(String, String), Array[Byte]],
                      cache: scala.collection.mutable.Map[(String, String), BloomFilter],
                      fileName: String, col: String): Option[BloomFilter] =
    index.get((fileName, col)).map { bytes =>
      cache.getOrElseUpdate((fileName, col),
        BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes)))
    }

  private def drop1(f: Filter, schema: StructType,
                    index: Map[(String, String), Array[Byte]],
                    cache: scala.collection.mutable.Map[(String, String), BloomFilter],
                    fileName: String): Boolean = f match {
    case EqualTo(c, v) if v != null =>
      (for {
        field <- schema.fields.find(_.name == c)
        bf <- bloomOf(index, cache, fileName, c)
        canonical <- canonExternal(field.dataType, v)
      } yield !bf.mightContainBinary(canonical.getBytes(UTF_8)))
        .getOrElse(false) ||
        // equality implies containment: a trigram index on the column can
        // also prove a string point predicate empty (covers tables with
        // only the trigram index built)
        (v match {
          case s: String => trgmDrop(c, s, index, cache, fileName)
          case _ => false
        })
    case In(c, vs) if vs.nonEmpty && !vs.contains(null) =>
      (for {
        field <- schema.fields.find(_.name == c)
        bf <- bloomOf(index, cache, fileName, c)
      } yield {
        val canons = vs.toSeq.map(canonExternal(field.dataType, _))
        canons.forall(_.isDefined) &&
          canons.flatten.forall(s => !bf.mightContainBinary(s.getBytes(UTF_8)))
      }).getOrElse(false)
    // substring predicates against the TRIGRAM blooms: a match must
    // contain every 3-gram of the literal, so one definitely-absent gram
    // proves no row of the file matches. =, starts-with and ends-with all
    // IMPLY contains, so the same probe serves them; literals shorter
    // than 3 chars yield no gram and stay neutral.
    case StringContains(c, v) => trgmDrop(c, v, index, cache, fileName)
    case StringStartsWith(c, v) => trgmDrop(c, v, index, cache, fileName)
    case StringEndsWith(c, v) => trgmDrop(c, v, index, cache, fileName)
    case org.apache.spark.sql.sources.And(l, r) =>
      drop1(l, schema, index, cache, fileName) ||
        drop1(r, schema, index, cache, fileName)
    // Or/Not and range predicates: neutral (stats handle ranges; a Bloom
    // filter cannot prove anything for negation or ranges)
    case _ => false
  }

  private def trgmDrop(c: String, v: String,
                       index: Map[(String, String), Array[Byte]],
                       cache: scala.collection.mutable.Map[(String, String), BloomFilter],
                       fileName: String): Boolean = {
    val gs = grams(v)
    gs.nonEmpty &&
      bloomOf(index, cache, fileName, c + TrgmSuffix).exists(bf =>
        gs.exists(g => !bf.mightContainBinary(g.getBytes(UTF_8))))
  }
}
