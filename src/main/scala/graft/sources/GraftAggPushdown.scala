package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** AGGREGATE PUSHDOWN to manifest-lifted statistics: a global
  * `COUNT(*)` / `COUNT(col)` / `MIN(col)` / `MAX(col)` over a graft table
  * is answered ENTIRELY from the stats log — zero data files opened, zero
  * tasks reading parquet. At 100 TB this is the difference between a
  * full-table scan and a handful of sequential metadata reads: the same
  * contract Iceberg/Delta serve via their manifests, expressed through
  * Spark's own DSv2 `SupportsPushDownAggregates` hook so `spark.sql(
  * "SELECT count(*) FROM t")` plans a one-row local scan with no shuffle.
  *
  * Soundness gates (ANY failure falls back to the ordinary scan — the
  * pushdown is an optimization, never a different answer):
  *   - global aggregates only (no GROUP BY), no pushed/partition/day
  *     filters (Spark only attempts the pushdown when no Filter survives
  *     between the Aggregate and the relation; we re-check defensively);
  *   - never on row-level (COW/MOR rewrite) scans;
  *   - no deletion-vector or equality-delete masks on any live file
  *     (masked rows would double-count; their cardinality lives in
  *     sidecars, not stats);
  *   - every live file carries recorded stats, with known null counts
  *     for COUNT(col) and defined bounds for MIN/MAX (NaN-poisoned
  *     float columns have no bounds and refuse);
  *   - MIN/MAX only over columns whose recorded canonical ordering is
  *     exactly the engine ordering (integers, dates, timestamps,
  *     floats widened exactly, strings byte-wise, decimals, booleans).
  */
object GraftAggPushdown {

  /** Planned pushdown: the result schema and the single result row's
    * internal values, computed driver-side from the stats log.
    */
  case class Planned(schema: StructType, values: Array[Any])

  def plan(spark: SparkSession, table: GraftTable,
           agg: Aggregation): Option[Planned] = {
    if (agg.groupByExpressions().nonEmpty) return None
    val funcs = agg.aggregateExpressions()
    if (funcs.isEmpty) return None

    val dir = new Path(table.dir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = table.currentFullEntries(fs)
    // masked rows are invisible to the scan but present in the stats.
    // History tables carry masks in the manifest entries; PLAIN
    // merge-on-read tables key deletion vectors by directory listing —
    // check BOTH (missing the listing check silently overcounts after a
    // plain-MOR DELETE).
    if (entries.exists(e => e.dv.nonEmpty || e.eqs.nonEmpty)) return None
    if (table.mor && fs.listStatus(dir).exists(st =>
        st.isFile && GraftDv.isDv(st.getPath.getName))) return None
    val stats = GraftFileLog.stats(fs, dir)
    val perFile: Seq[GraftStats.FileStats] = entries.map { e =>
      stats.getOrElse(new Path(e.file).getName, return None)
    }

    val phys = table.physicalSchema
    def field(ref: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = ref match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        phys.fields.find(_.name == nr.fieldNames()(0))
      case _ => None
    }

    val fields = Array.newBuilder[StructField]
    val values = Array.newBuilder[Any]
    funcs.foreach {
      case _: CountStar =>
        fields += StructField("count_star", LongType, nullable = false)
        values += perFile.map(_.rows).sum
      case c: Count if !c.isDistinct =>
        val f = field(c.column()).getOrElse(return None)
        val nonNull = perFile.map { st =>
          val cs = st.cols.getOrElse(f.name, return None)
          if (cs.nulls < 0) return None // unknown null count
          st.rows - cs.nulls
        }.sum
        fields += StructField(s"count_${f.name}", LongType, nullable = false)
        values += nonNull
      case m: Min =>
        val f = field(m.column()).getOrElse(return None)
        fields += StructField(s"min_${f.name}", f.dataType)
        values += bound(perFile, f, isMin = true).getOrElse(return None).orNull
      case m: Max =>
        val f = field(m.column()).getOrElse(return None)
        fields += StructField(s"max_${f.name}", f.dataType)
        values += bound(perFile, f, isMin = false).getOrElse(return None).orNull
      case _ => return None
    }
    Some(Planned(StructType(fields.result()), values.result()))
  }

  /** Fold the per-file bounds of one column. Outer None = cannot answer
    * (missing stats / poisoned bounds / unsupported type); inner None =
    * answerable and SQL-null (no non-null rows anywhere).
    */
  private def bound(perFile: Seq[GraftStats.FileStats], f: StructField,
                    isMin: Boolean): Option[Option[Any]] = {
    val decoded = perFile.flatMap { st =>
      val cs = st.cols.getOrElse(f.name, return None)
      val allNull = cs.nulls >= 0 && cs.nulls == st.rows
      val b = if (isMin) cs.min else cs.max
      b match {
        case Some(canonical) => Seq(decode(f.dataType, canonical).getOrElse(return None))
        case None if st.rows == 0 || allNull => Nil // contributes no values
        case None => return None // poisoned or unrecorded bound
      }
    }
    if (decoded.isEmpty) return Some(None)
    val ord = ordering(f.dataType).getOrElse(return None)
    Some(Some(if (isMin) decoded.min(ord) else decoded.max(ord)))
  }

  /** Canonical stats string → Catalyst internal value. */
  private def decode(dt: DataType, s: String): Option[Any] = dt match {
    case ByteType => Some(s.toLong.toByte)
    case ShortType => Some(s.toLong.toShort)
    case IntegerType | DateType => Some(s.toLong.toInt)
    case LongType | TimestampType | TimestampNTZType => Some(s.toLong)
    case FloatType => Some(s.toDouble.toFloat) // widened exactly on record
    case DoubleType => Some(s.toDouble)
    case StringType => Some(UTF8String.fromString(s))
    case d: DecimalType =>
      val bd = Decimal(new java.math.BigDecimal(s))
      if (bd.changePrecision(d.precision, d.scale)) Some(bd) else None
    case BooleanType => Some(s.toBoolean)
    case _ => None
  }

  /** The engine ordering over decoded internal values (matches the
    * canonical comparator the stats producer used).
    */
  private def ordering(dt: DataType): Option[Ordering[Any]] = {
    val o: Option[Ordering[_]] = dt match {
      case ByteType => Some(Ordering.Byte)
      case ShortType => Some(Ordering.Short)
      case IntegerType | DateType => Some(Ordering.Int)
      case LongType | TimestampType | TimestampNTZType => Some(Ordering.Long)
      case FloatType => Some(Ordering.Float.TotalOrdering)
      case DoubleType => Some(Ordering.Double.TotalOrdering)
      case StringType => Some(Ordering.comparatorToOrdering(GraftStats.Utf8Order))
      case _: DecimalType => Some(Ordering.ordered[Decimal](identity))
      case BooleanType => Some(Ordering.Boolean)
      case _ => None
    }
    o.map(_.asInstanceOf[Ordering[Any]])
  }

  /** Epoch-micros helper kept for symmetry with GraftStats.cmp (unused
    * paths folded into decode); retained private to avoid drift.
    */
  private[sources] def micros(t: java.sql.Timestamp): Long =
    DateTimeUtils.fromJavaTimestamp(t)
}

/** One-row local scan serving a fully-pushed aggregation. */
class GraftAggScan(tableName: String, planned: GraftAggPushdown.Planned)
  extends Scan with Batch {
  override def readSchema(): StructType = planned.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft $tableName stats-aggregated " +
      s"[${planned.schema.fieldNames.mkString(", ")}] (metadata-only)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggResultPartition(planned.values))
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggReaderFactory
}

case class GraftAggResultPartition(values: Array[Any]) extends InputPartition

class GraftAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val vals = p.asInstanceOf[GraftAggResultPartition].values
      private var served = false
      override def next(): Boolean = if (served) false else { served = true; true }
      override def get(): InternalRow = new GenericInternalRow(vals.clone())
      override def close(): Unit = ()
    }
}
