package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.internal.LegacyBehaviorPolicy
import org.apache.spark.sql.types.StructType

/** Executor-side parquet I/O at the `InternalRow` level, built on Spark's
  * own public `ParquetWriteSupport` / `ParquetReadSupport` (the exact
  * converters the native parquet source uses) driven through the
  * parquet-hadoop `ParquetWriter`/`ParquetReader` builders. This is what
  * lets a custom DSv2 connector ([[GraftCatalog]]'s tables) read and write
  * REAL parquet files — byte-compatible with `spark.read.parquet` — from a
  * `PartitionReader`/`DataWriter` running on an executor, where no
  * SparkSession exists.
  *
  * The conf keys Spark's support classes assert on (`writeLegacyFormat`,
  * `outputTimestampType`, rebase modes, requested schema) are pinned here
  * explicitly rather than inherited from a session, so behavior is
  * identical on any executor regardless of cluster defaults: standard
  * (non-legacy) layout, TIMESTAMP_MICROS, CORRECTED rebase — the Spark 4
  * defaults.
  *
  * Readers open from a read conf the caller built once
  * ([[readConf]], usually through [[SerializableHadoopConf.readConf]]),
  * never from a conf of their own: parquet's path-based builder starts
  * from a default `new Configuration()`, whose first lookup loads the
  * default resources by probing every jar on the classpath — a fixed
  * cost per opened file larger than reading a small file's rows. Several
  * readers may share one read conf, so nothing on the read path sets a
  * key in it.
  */
object ParquetRowIO {

  /** Hadoop conf with every key `ParquetWriteSupport.init` and
    * `SparkToParquetSchemaConverter` assert on.
    */
  def writeConf(base: Configuration, schema: StructType): Configuration = {
    val conf = new Configuration(base)
    ParquetWriteSupport.setSchema(schema, conf)
    org.apache.spark.sql.graftbridge.ParquetConfDefaults.pinWrite(conf)
    conf
  }

  /** Hadoop conf with every key the read path needs: the requested schema
    * plus the schema-interpretation flags `ParquetToSparkSchemaConverter`
    * reads.
    */
  def readConf(base: Configuration, requestedSchema: StructType): Configuration = {
    val conf = new Configuration(base)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requestedSchema.json)
    org.apache.spark.sql.graftbridge.ParquetConfDefaults.pinRead(conf)
    conf
  }

  private class RowWriterBuilder(path: Path)
    extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](path) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration) = new ParquetWriteSupport
  }

  /** The reader twin of [[RowWriterBuilder]]: opens `file` under the
    * given conf as is.
    */
  private class RowReaderBuilder(file: HadoopInputFile, conf: Configuration,
                                 support: ReadSupport[InternalRow])
    extends ParquetReader.Builder[InternalRow](file, new HadoopParquetConfiguration(conf)) {
    override protected def getReadSupport(): ReadSupport[InternalRow] = support
  }

  /** Open a snappy parquet writer for `schema` rows at `path`. */
  def writer(path: Path, schema: StructType, base: Configuration): ParquetWriter[InternalRow] =
    new RowWriterBuilder(path)
      .withConf(writeConf(base, schema))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()

  /** Open a reader producing the InternalRows `readConf` (a [[readConf]])
    * requests (column-pruned at the parquet level — unprojected columns
    * are never decoded; an optional pushed predicate prunes row groups by
    * min/max stats before any page is read). The returned rows may be
    * reused between `read()` calls, per the `PartitionReader.get`
    * contract.
    */
  def reader(path: Path, readConf: Configuration,
             predicate: Option[org.apache.parquet.filter2.predicate.FilterPredicate] = None,
             aliases: Map[String, Seq[String]] = Map.empty,
             missingOut: java.util.concurrent.atomic.AtomicReference[Set[String]] = null)
      : ParquetReader[InternalRow] = {
    // alias-aware support resolves RENAMEd columns against each file's
    // actual parquet schema and reports requested fields the file lacks
    // (existence-default fill); the plain support is the exact
    // native-source read path
    val support: ParquetReadSupport =
      if (aliases.nonEmpty || missingOut != null)
        new GraftAliasReadSupport(aliases, missingOut)
      else new ParquetReadSupport(
        None, enableVectorizedReader = false,
        RebaseSpec(LegacyBehaviorPolicy.CORRECTED),
        RebaseSpec(LegacyBehaviorPolicy.CORRECTED))
    val b = new RowReaderBuilder(
      HadoopInputFile.fromPath(path, readConf), readConf, support)
    predicate.fold(b: ParquetReader.Builder[InternalRow])(p =>
        b.withFilter(org.apache.parquet.filter2.compat.FilterCompat.get(p)))
      .build()
  }
}
