package graft.sources

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, DateType, TimestampType}

/** HIDDEN day partitioning (`PARTITIONED BY (days(ts))`, the Iceberg
  * transform): rows keep their raw timestamp column in parquet; the
  * LAYOUT derives `ts_day=<epochDay>/` directories from it at write time,
  * and scans prune those directories from predicates on the RAW column —
  * the user never knows a partition column exists. This is the 100 TB
  * fact-table layout: queries say `ts >= '2026-08-01'`, the engine plans
  * only the matching day directories, and nobody maintains a redundant
  * `day` column that can drift from its timestamp (the classic identity-
  * partitioning bug this transform exists to kill).
  *
  * Pruning is INTERVAL three-valued logic: a day directory `d` bounds its
  * rows' values to `[d·86400e6, (d+1)·86400e6)` micros (a single day for
  * DATE columns), and each conjunct evaluates to all-match / no-match /
  * mixed over that interval — only a definite no-match prunes, so `Not`
  * composes soundly and unknown literal types never prune.
  */
object GraftDayPartition {

  val MicrosPerDay: Long = 86_400_000_000L
  val MicrosPerHour: Long = 3_600_000_000L

  /** Iceberg transform-name → directory-segment suffix. */
  val Units: Map[String, String] =
    Map("hours" -> "hour", "days" -> "day", "months" -> "month")

  def supported(unit: String, dt: DataType): Boolean = (unit, dt) match {
    case ("hours", TimestampType) => true
    case ("days" | "months", TimestampType | DateType) => true
    case _ => false
  }

  /** Directory segment for a row's time unit: `<col>_<unit>=<n>`. */
  def dirName(col: String, unit: String, n: Option[Long]): String =
    s"${col}_${Units(unit)}=${n.map(_.toString).getOrElse(GraftTable.NullPartition)}"

  private def epochDayToMonth(epochDay: Long): Long = {
    val d = java.time.LocalDate.ofEpochDay(epochDay)
    (d.getYear - 1970).toLong * 12 + (d.getMonthValue - 1)
  }

  private def monthStartDay(m: Long): Long = {
    val y = 1970 + Math.floorDiv(m, 12).toInt
    val mo = Math.floorMod(m, 12).toInt + 1
    java.time.LocalDate.of(y, mo, 1).toEpochDay
  }

  /** Unit index of a raw column value at write time (UTC, like Iceberg). */
  def unitOf(unit: String, dt: DataType, v: Any): Option[Long] =
    Option(v).map { x =>
      (unit, dt) match {
        case ("hours", TimestampType) =>
          Math.floorDiv(x.asInstanceOf[Long], MicrosPerHour)
        case ("days", TimestampType) =>
          Math.floorDiv(x.asInstanceOf[Long], MicrosPerDay)
        case ("days", DateType) => x.asInstanceOf[Int].toLong
        case ("months", TimestampType) =>
          epochDayToMonth(Math.floorDiv(x.asInstanceOf[Long], MicrosPerDay))
        case ("months", DateType) => epochDayToMonth(x.asInstanceOf[Int].toLong)
        case other => throw new IllegalStateException(
          s"time partition over unsupported (unit, type) $other")
      }
    }

  /** Parse `<col>_<unit>=...` from a file's path under the table dir.
    * None when the file carries no segment (pre-existing flat files —
    * never pruned), Some(None) for the null directory.
    */
  def unitOfFile(tableDir: String, file: String, col: String,
                 unit: String): Option[Option[Long]] = {
    val rel = file.stripPrefix(tableDir).stripPrefix("/")
    val prefix = s"${col}_${Units(unit)}="
    rel.split('/').find(_.startsWith(prefix)).map { seg =>
      val raw = seg.stripPrefix(prefix)
      if (raw == GraftTable.NullPartition) None else Some(raw.toLong)
    }
  }

  /** Filter literal → micros (timestamp) or days (date), by column type. */
  private def toInternal(dt: DataType, v: Any): Option[Long] = (dt, v) match {
    case (_, null) => None
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(DateTimeUtils.fromJavaTimestamp(t))
    case (TimestampType, i: java.time.Instant) =>
      Some(DateTimeUtils.instantToMicros(i))
    case (DateType, d: java.sql.Date) =>
      Some(DateTimeUtils.fromJavaDate(d).toLong)
    case (DateType, d: java.time.LocalDate) =>
      Some(DateTimeUtils.localDateToDays(d).toLong)
    case _ => None
  }

  /** Value interval [lo, hi] (inclusive) of rows in unit `n`: micros for
    * timestamps (month widths from the calendar), days for dates.
    */
  private def bounds(unit: String, dt: DataType, n: Long): (Long, Long) =
    (unit, dt) match {
      case ("hours", TimestampType) =>
        (n * MicrosPerHour, (n + 1) * MicrosPerHour - 1)
      case ("days", TimestampType) =>
        (n * MicrosPerDay, (n + 1) * MicrosPerDay - 1)
      case ("days", DateType) => (n, n)
      case ("months", TimestampType) =>
        (monthStartDay(n) * MicrosPerDay, monthStartDay(n + 1) * MicrosPerDay - 1)
      case ("months", DateType) => (monthStartDay(n), monthStartDay(n + 1) - 1)
      case other => throw new IllegalStateException(s"bounds: $other")
    }

  /** Three-valued interval evaluation: Some(true) = every row in the day
    * matches, Some(false) = none can, None = mixed/undecidable.
    */
  def eval(f: Filter, col: String, dt: DataType, unit: String,
           day: Option[Long]): Option[Boolean] = {
    def interval: Option[(Long, Long)] = day.map(bounds(unit, dt, _))
    f match {
      case IsNull(c) if c == col => Some(day.isEmpty)
      case IsNotNull(c) if c == col => Some(day.nonEmpty)
      case EqualTo(c, v) if c == col =>
        (interval, toInternal(dt, v)) match {
          case (None, _) => Some(false) // null-day dir: no row equals anything
          case (Some((lo, hi)), Some(x)) =>
            if (x < lo || x > hi) Some(false)
            else if (lo == hi) Some(true)
            else None
          case _ => None
        }
      case GreaterThan(c, v) if c == col =>
        (interval, toInternal(dt, v)) match {
          case (None, _) => Some(false)
          case (Some((lo, hi)), Some(x)) =>
            if (lo > x) Some(true) else if (hi <= x) Some(false) else None
          case _ => None
        }
      case GreaterThanOrEqual(c, v) if c == col =>
        (interval, toInternal(dt, v)) match {
          case (None, _) => Some(false)
          case (Some((lo, hi)), Some(x)) =>
            if (lo >= x) Some(true) else if (hi < x) Some(false) else None
          case _ => None
        }
      case LessThan(c, v) if c == col =>
        (interval, toInternal(dt, v)) match {
          case (None, _) => Some(false)
          case (Some((lo, hi)), Some(x)) =>
            if (hi < x) Some(true) else if (lo >= x) Some(false) else None
          case _ => None
        }
      case LessThanOrEqual(c, v) if c == col =>
        (interval, toInternal(dt, v)) match {
          case (None, _) => Some(false)
          case (Some((lo, hi)), Some(x)) =>
            if (hi <= x) Some(true) else if (lo > x) Some(false) else None
          case _ => None
        }
      case In(c, vs) if c == col =>
        if (day.isEmpty) Some(false)
        else {
          val xs = vs.toSeq.map(toInternal(dt, _))
          if (xs.contains(None)) None
          else {
            val (lo, hi) = interval.get
            val inRange = xs.flatten.filter(x => x >= lo && x <= hi)
            if (inRange.isEmpty) Some(false)
            else if (lo == hi && inRange.nonEmpty) Some(true)
            else None
          }
        }
      case And(a, b) =>
        (eval(a, col, dt, unit, day), eval(b, col, dt, unit, day)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }
      case Or(a, b) =>
        (eval(a, col, dt, unit, day), eval(b, col, dt, unit, day)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      case Not(a) => eval(a, col, dt, unit, day).map(!_)
      case _ => None
    }
  }

  /** Keep the file unless some conjunct definitely excludes its day. A
    * file without a day segment is never pruned (pre-layout data).
    */
  def survives(filters: Seq[Filter], tableDir: String, file: String,
               col: String, dt: DataType, unit: String): Boolean =
    unitOfFile(tableDir, file, col, unit) match {
      case None => true
      case Some(day) =>
        filters.forall(f => eval(f, col, dt, unit, day).getOrElse(true))
    }

  /** Multi-spec pruning (PARTITION EVOLUTION): a table whose time spec
    * changed over its life holds files under SEVERAL segment layouts —
    * each file's path names the spec that wrote it (`<col>_<unit>=N`), so
    * pruning resolves the file's OWN spec (current first, then past specs
    * newest-first) and evaluates the interval logic under that unit.
    * Files predating every spec carry no segment and are never pruned —
    * exactly Iceberg's void-transform semantics for old partition specs.
    */
  def survivesSpecs(filters: Seq[Filter], tableDir: String, file: String,
                    specs: Seq[(String, String, DataType)]): Boolean =
    specs.view
      .flatMap { case (col, unit, dt) =>
        unitOfFile(tableDir, file, col, unit).map(day => (col, unit, dt, day))
      }
      .headOption match {
        case None => true
        case Some((col, unit, dt, day)) =>
          filters.forall(f => eval(f, col, dt, unit, day).getOrElse(true))
      }
}

/** `FunctionCatalog` entries for the `hours` / `days` / `months`
  * transforms, so Spark can resolve the clustered write distribution
  * (and, symmetrically to bucket, reason about the transform) through
  * the catalog. Unit index as INT.
  */
class GraftTimeUnitFunction(unit: String)
  extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = unit
  override def description(): String =
    s"$unit(col): epoch ${GraftDayPartition.Units(unit)} of a TIMESTAMP/DATE column"
  override def bind(inputType: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.length == 1,
      s"$unit(col) takes exactly one column, got ${inputType.length}")
    val dt = inputType(0).dataType
    require(GraftDayPartition.supported(unit, dt),
      s"$unit() does not support $dt")
    GraftTimeUnitBound(unit, dt)
  }
}

class GraftDaysFunction extends GraftTimeUnitFunction("days")

object GraftDaysFunction {
  val FunctionName = "days"
}

object GraftTimeUnitFunction {
  val Names: Seq[String] = Seq("hours", "days", "months")
}

case class GraftTimeUnitBound(unit: String, keyType: DataType)
  extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(keyType)
  override def resultType(): DataType = org.apache.spark.sql.types.IntegerType
  override def name(): String = unit
  override def canonicalName(): String =
    s"graft.$unit(${keyType.simpleString})"
  override def isResultNullable: Boolean = true
  override def produceResult(
      input: org.apache.spark.sql.catalyst.InternalRow): Integer =
    if (input.isNullAt(0)) null
    else GraftDayPartition.unitOf(unit, keyType, input.get(0, keyType))
      .map(d => Integer.valueOf(d.toInt)).orNull
}
