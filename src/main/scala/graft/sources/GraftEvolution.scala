package graft.sources

import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.internal.LegacyBehaviorPolicy
import org.apache.spark.sql.types._

/** SCHEMA EVOLUTION beyond add/drop: RENAME COLUMN and type WIDENING as
  * metadata-only commits — no data file is ever rewritten.
  *
  * Parquet matches columns by NAME, so a naive rename silently orphans the
  * column's bytes in every pre-rename file (reads NULL-fill — data loss
  * wearing a metadata costume). Real formats solve this with field IDs
  * stamped into every file; this catalog controls all of its write paths
  * but must keep reading files written before the rename, so it uses
  * Iceberg's OTHER mechanism — a NAME MAPPING (`schema.name-mapping.default`
  * in Iceberg, applied to files without field IDs): the table props carry,
  * per current column, the chain of names it has worn
  * (`graft.alias.<current> = oldest,...,newest`), and the read path resolves
  * a requested column PER FILE against the file's actual parquet schema —
  * current name when present, else the newest alias the file carries
  * ([[GraftAliasReadSupport]] rewrites the requested schema inside
  * `ReadSupport.init`, where parquet hands it the file schema; rows are
  * positional, so downstream operators see the renamed column unchanged).
  *
  * Type WIDENING (byte→short→int→long, float→double) rides Spark's own
  * parquet converters, which up-convert a narrower physical type into the
  * wider requested one — the catalog only has to admit the ALTER and keep
  * its metadata honest. Both verbs preserve the stats/bloom logs'
  * CANONICAL value encoding (integrals are recorded as long strings,
  * floats widened exactly to double strings), so recorded min/max bounds
  * and bloom membership bits stay bit-for-bit valid under the widened
  * type; rename re-keys the logs' column names in one metadata rewrite.
  *
  * Soundness rules enforced at DDL time (each refused loudly):
  *  - layout columns (identity partition, bucket, hidden-time) never
  *    rename or widen — directory names and bucket hashes embed them;
  *  - a CHECK constraint referencing the column blocks the ALTER (drop
  *    the constraint first; silent rewrite would re-type user DDL);
  *  - live equality-delete masks COMPOSE with both verbs (round 13): a
  *    sidecar stores the key names and typed values of its upsert epoch,
  *    and the read path resolves each sidecar like it resolves data
  *    files — stored name through the alias chain to the current column,
  *    values up-converted to the current width (GraftEqDelete.keySet);
  *  - a name is never reused: ADD COLUMN refuses any name that is a
  *    CURRENT alias or was EVER dropped/retired — old files still hold
  *    bytes under those names, and a reborn column would resurrect them
  *    (the same hole field IDs close; DROP retires the column's whole
  *    alias chain).
  *
  * At 100 TB this is the difference between an O(bytes) table rewrite and
  * an O(1) metadata commit for the most common DDL there is.
  */
object GraftEvolution {

  /** `graft.alias.<currentName>` = URL-encoded old names, oldest first. */
  val AliasPrefix = "graft.alias."

  /** `graft.retired` = URL-encoded names that may never be reused. */
  val RetiredProp = "graft.retired"

  /** `graft.widened` = URL-encoded names of columns ever type-widened:
    * parquet-LEVEL predicates on them are invalid against pre-widen files
    * (parquet's filter validator rejects a long predicate on an INT32
    * column outright), so they stay metadata-pruned + residual-exact.
    */
  val WidenedProp = "graft.widened"

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  def aliasesOf(props: Map[String, String]): Map[String, Seq[String]] =
    props.toSeq
      .filter(_._1.startsWith(AliasPrefix))
      .map { case (k, v) =>
        k.stripPrefix(AliasPrefix) ->
          v.split(",").toSeq.filter(_.nonEmpty).map(dec)
      }.toMap

  def retiredOf(props: Map[String, String]): Seq[String] =
    props.get(RetiredProp).toSeq
      .flatMap(_.split(",").toSeq.filter(_.nonEmpty).map(dec))

  def widenedOf(props: Map[String, String]): Set[String] =
    props.get(WidenedProp).toSeq
      .flatMap(_.split(",").toSeq.filter(_.nonEmpty).map(dec)).toSet

  def encodeAliases(olds: Seq[String]): String = olds.map(enc).mkString(",")
  def encodeRetired(names: Seq[String]): String = names.map(enc).mkString(",")
  def encodeWidened(names: Set[String]): String =
    names.toSeq.sorted.map(enc).mkString(",")

  /** Every name that has ever addressed data in this table: current
    * schema names, every alias, every retired name. ADD COLUMN and RENAME
    * targets must avoid all of them.
    */
  def allKnownNames(schema: StructType, aliases: Map[String, Seq[String]],
                    retired: Seq[String]): Set[String] =
    schema.fieldNames.toSet ++ aliases.keySet ++
      aliases.values.flatten ++ retired

  /** Widening matrix (Spark's parquet converters up-convert these
    * physical→requested pairs natively; verified empirically for the
    * row-based reader this catalog uses). Every pair also preserves the
    * stats/bloom canonical string encoding.
    */
  def canWiden(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }

  /** Does filter `f` touch any aliased column? Parquet-LEVEL pruning
    * (in-reader record filters, footer probes) must skip such filters:
    * the predicate names the CURRENT column, a pre-rename file holds the
    * bytes under the old name, and parquet treats a missing column as
    * all-null — `col = v` would WRONGLY drop row groups that match under
    * the alias. Spark re-evaluates every filter exactly (all pushdown is
    * residual), and the stats/bloom logs are re-keyed at rename time, so
    * metadata pruning keeps working — only parquet-internal pruning is
    * conservatively lost for renamed columns on old files.
    */
  def touchesAliased(f: org.apache.spark.sql.sources.Filter,
                     aliased: Set[String]): Boolean =
    f.references.exists(aliased.contains)

  /** `defaulted` = columns with an EXISTENCE default: parquet treats the
    * column as all-null in pre-add files and would prune row groups whose
    * rows actually match through the default — same exclusion as renames.
    */
  def parquetSafe(filters: Seq[org.apache.spark.sql.sources.Filter],
                  aliases: Map[String, Seq[String]],
                  widened: Set[String] = Set.empty,
                  defaulted: Set[String] = Set.empty)
      : Seq[org.apache.spark.sql.sources.Filter] = {
    val unsafe = aliases.keySet ++ widened ++ defaulted
    if (unsafe.isEmpty) filters
    else filters.filterNot(touchesAliased(_, unsafe))
  }

  /** Existence-default catalyst values per column (empty metadata → no
    * entry) — what pre-add files must serve instead of NULL.
    */
  def existenceDefaults(schema: StructType): Map[String, Any] = {
    val vals = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .getExistenceDefaultValues(schema)
    schema.fields.zipWithIndex.collect {
      case (f, i) if vals(i) != null => f.name -> vals(i)
    }.toMap
  }

  def hasExistenceDefault(f: org.apache.spark.sql.types.StructField): Boolean =
    f.metadata.contains(org.apache.spark.sql.catalyst.util
      .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY)

  /** Maintenance-rewrite reader: the bulk rewrites (compaction, Z-order,
    * DV materialization, purge) read data files through Spark's parquet
    * source, which matches by NAME against ONE sampled file schema — on a
    * table with rename/widen/add history that silently drops or NULLs
    * columns of the other epochs. This reads each distinct file-schema
    * group separately, resolves every current column per group (name →
    * newest alias present → NULL for added columns), casts to the current
    * physical types (widening), and unions — so a rewrite of mixed-epoch
    * files lands uniform current-schema files. Per-group planning costs
    * one footer read per file on the DRIVER, which the maintenance verbs
    * pay anyway (they are about to re-read every byte); group count is
    * the number of DDL epochs, not files.
    */
  def readFilesAs(spark: org.apache.spark.sql.SparkSession,
                  files: Seq[String], physicalSchema: StructType,
                  aliases: Map[String, Seq[String]])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(files.nonEmpty, "readFilesAs: no files")
    if (aliases.isEmpty) return spark.read.parquet(files: _*)
    val bySchema = files
      .map(f => f -> spark.read.parquet(f).schema.fieldNames.toSet)
      .groupBy(_._2).values.map(_.map(_._1)).toSeq
    bySchema.map { group =>
      val df = spark.read.parquet(group: _*)
      val have = df.columns.toSet
      df.select(physicalSchema.fields.toSeq.map { fld =>
        val src =
          if (have.contains(fld.name)) Some(fld.name)
          else aliases.get(fld.name).flatMap(_.reverseIterator.find(have.contains))
        src.map(s => col(s).cast(fld.dataType).as(fld.name))
          .getOrElse {
            // a column ADDed with a DEFAULT: pre-add files serve the
            // frozen existence default, not NULL — the rewrite must
            // materialize the same value the scan was serving
            if (hasExistenceDefault(fld))
              org.apache.spark.sql.functions.expr(fld.metadata.getString(
                org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
                  .EXISTS_DEFAULT_COLUMN_METADATA_KEY))
                .cast(fld.dataType).as(fld.name)
            else lit(null).cast(fld.dataType).as(fld.name)
          }
      }: _*)
    }.reduce(_.union(_))
  }
}

/** Spark's [[ParquetReadSupport]] with per-file ALIAS RESOLUTION: inside
  * `init` — the one hook parquet gives a reader before projection is
  * fixed — the requested Spark schema is rewritten against the file's
  * actual columns: a requested field absent from the file but present
  * under one of its former names is requested under THAT name (newest
  * alias first). Rows are built positionally from the requested schema,
  * so downstream sees the current column name regardless of which name
  * the file stores the bytes under. Fields absent under every name keep
  * the current name and NULL-fill exactly as before (ADD COLUMN files).
  */
class GraftAliasReadSupport(aliases: Map[String, Seq[String]],
                            missingOut: java.util.concurrent.atomic.AtomicReference[Set[String]] = null)
  extends ParquetReadSupport(
    None, enableVectorizedReader = false,
    RebaseSpec(LegacyBehaviorPolicy.CORRECTED),
    RebaseSpec(LegacyBehaviorPolicy.CORRECTED)) {

  override def init(context: InitContext): ReadSupport.ReadContext = {
    val conf = context.getConfiguration
    val requestedJson = conf.get(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA)
    if (requestedJson != null) {
      val fileCols = {
        val b = Set.newBuilder[String]
        context.getFileSchema.getFields.forEach(f => b += f.getName)
        b.result()
      }
      val requested =
        DataType.fromJson(requestedJson).asInstanceOf[StructType]
      val remapped = StructType(requested.fields.map { f =>
        if (fileCols.contains(f.name)) f
        else aliases.get(f.name)
          .flatMap(_.reverseIterator.find(fileCols.contains))
          .map(old => f.copy(name = old))
          .getOrElse(f)
      })
      // fields absent from the file under EVERY name: the converter will
      // NULL-fill them — reported so the reader can substitute existence
      // defaults (ADD COLUMN ... DEFAULT) for the whole file
      if (missingOut != null)
        missingOut.set(requested.fields.zip(remapped.fields).collect {
          case (orig, eff) if !fileCols.contains(eff.name) => orig.name
        }.toSet)
      // the read conf is shared with the other readers opened from it:
      // a remap goes into a private copy, never into the shared conf
      if (remapped != requested) {
        val own = new org.apache.hadoop.conf.Configuration(conf)
        own.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, remapped.json)
        return super.init(new InitContext(own, context.getKeyValueMetadata,
          context.getFileSchema))
      }
    }
    super.init(context)
  }
}
