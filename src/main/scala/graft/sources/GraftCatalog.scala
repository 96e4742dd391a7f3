package graft.sources

import java.util
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{BasePredicate, Expression, GenericInternalRow}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A minimal lakehouse catalog with SQL row-level operations — the front
  * door that turns the engine's `Cdc.merge`/`scd2History` DataFrame
  * semantics into the lakehouse verbs a 100 TB restatement flow actually
  * uses:
  *
  *   MERGE INTO graft.db.t USING changes ON ... WHEN MATCHED THEN ...
  *   UPDATE graft.db.t SET ... WHERE ...
  *   DELETE FROM graft.db.t WHERE ...
  *
  * (the reference's merge-back stage — add_details merging batch results
  * into the frame, main.py:288-303 — is the single-node analog of MERGE.)
  *
  * Wiring: `spark.sql.catalog.graft = graft.sources.GraftCatalog` +
  * `spark.sql.catalog.graft.warehouse = <dir>`. Tables are plain parquet
  * directories (`part-*.parquet` + a `_graft_table.json` schema file),
  * readable by ANY parquet reader; the scan/write paths speak real
  * parquet through [[ParquetRowIO]] (Spark's own converters), so
  * `spark.read.parquet(tableDir)` sees identical bytes.
  *
  * Row-level ops are GROUP-BASED COPY-ON-WRITE (the Iceberg/Delta COW
  * strategy): the table exposes a `_file` metadata column; Spark's
  * `RewriteMergeIntoTable` / `RewriteUpdateTable` / `RewriteDeleteFromTable`
  * rules rewrite the command into a `ReplaceData` plan over the affected
  * groups, and `RowLevelOperationRuntimeGroupFiltering` injects a runtime
  * IN-subquery on `_file` — the scan implements
  * [[SupportsRuntimeV2Filtering]], so ONLY files that actually contain
  * matching rows are re-read and rewritten; untouched files are never
  * opened by the replacement write (plan + file-level asserted in
  * GraftCatalogSpec). At 100 TB with date-bucketed files this is the
  * difference between rewriting a day and rewriting the table.
  *
  * Scope kept deliberately tight (this is a catalog, not a table format):
  * no partition transforms (file-level grouping IS the pruning unit), no
  * time travel, single-writer commits (a concurrent writer can interleave
  * between list and rename — lakehouse formats solve this with an atomic
  * metadata pointer, orthogonal to the operator semantics proven here).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  /** Column DEFAULT values are supported end-to-end: DDL admits them
    * (this capability gates Spark's parser/analyzer), INSERTs resolve
    * CURRENT_DEFAULT for omitted columns in the analyzer, and the READ
    * path serves EXISTS_DEFAULT for files written before the column was
    * added (GraftPartitionReader) — the metadata-only ADD COLUMN x
    * DEFAULT v every lakehouse format ships.
    */
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    Set(org.apache.spark.sql.connector.catalog.TableCatalogCapability
      .SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS).asJava

  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = options.get("warehouse")
    require(wh != null, s"catalog $name requires a 'warehouse' option")
    warehouse = new Path(wh)
  }
  override def name(): String = catalogName

  /** Warehouse root — catalog-scoped metadata (consistency groups) lives
    * directly under it.
    */
  def warehouseDir: Path = warehouse

  private def fs: FileSystem =
    warehouse.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
  /** Raw warehouse path of `ident` — the POINTER STUB for registered
    * external tables, the table dir itself otherwise. Catalog-structure
    * ops (drop, rename, register) act here; data ops go through
    * [[tableDir]] which follows the pointer.
    */
  private def stubDir(ident: Identifier): Path =
    new Path((ident.namespace() :+ ident.name()).foldLeft(warehouse)(new Path(_, _)).toString)
  private def tableDir(ident: Identifier): Path = resolveDir(stubDir(ident))
  /** Follow a `_graft_location` pointer (a table REGISTERED at an external
    * location — Iceberg's register_table / Delta's LOCATION shape): the
    * warehouse holds only the one-line pointer file; schema, manifest log
    * and data all live at the registered location. Non-stub dirs resolve
    * to themselves, so every existing table is unaffected. One extra
    * `exists` per metadata resolution — driver-side, against the catalog
    * FS, the same cost class as the props read that follows it (a
    * production deployment would hold the pointer in its metastore row).
    */
  private def resolveDir(stub: Path): Path = {
    val ptr = new Path(stub, GraftTable.LocationFile)
    if (!fs.exists(ptr)) stub
    else {
      val in = fs.open(ptr)
      val loc =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      new Path(loc)
    }
  }
  private def isRegistered(ident: Identifier): Boolean =
    fs.exists(new Path(stubDir(ident), GraftTable.LocationFile))
  private def nsDir(ns: Array[String]): Path =
    new Path(ns.foldLeft(warehouse)(new Path(_, _)).toString)
  private def metaFile(dir: Path): Path = new Path(dir, GraftTable.MetaFile)

  private def isTableDir(dir: Path): Boolean = fs.exists(metaFile(resolveDir(dir)))

  // --- ViewCatalog: named view definitions, metadata-only ----------------
  // CREATE VIEW stores the SQL text + captured resolution context +
  // declared schema under the namespace dir (`_graft_views/<name>.view`);
  // Spark's analyzer re-resolves the body against that context on every
  // read, so views track their base tables' current snapshots (and
  // compose with the MV rewrite — a view body over an MV-backed base
  // still rewrites). A name is a table XOR a view: both create paths
  // refuse the other kind.

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    val dir = nsDir(ns)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(ns)
    GraftViews.list(fs, dir).map(Identifier.of(ns, _)).toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    GraftViews.exists(fs, nsDir(ident.namespace()), ident.name())

  override def loadView(ident: Identifier): org.apache.spark.sql.connector.catalog.View =
    GraftViews.read(fs, nsDir(ident.namespace()), ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo): org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    require(!isTableDir(tableDir(ident)),
      s"cannot create view $ident: a TABLE with that name exists")
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    val ns = nsDir(ident.namespace())
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(ident.namespace())
    val v = GraftViews.StoredView(ident, info.sql(), info.currentCatalog(),
      info.currentNamespace().toSeq, info.schema(),
      info.queryColumnNames().toSeq, info.columnAliases().toSeq,
      info.columnComments().toSeq,
      info.properties().asScala.toMap)
    GraftViews.write(fs, ns, v, replace = false)
    v
  }

  override def replaceView(info: org.apache.spark.sql.connector.catalog.ViewInfo,
                           orCreate: Boolean): org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    require(!isTableDir(tableDir(ident)),
      s"cannot create view $ident: a TABLE with that name exists")
    if (!orCreate && !viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val v = GraftViews.StoredView(ident, info.sql(), info.currentCatalog(),
      info.currentNamespace().toSeq, info.schema(),
      info.queryColumnNames().toSeq, info.columnAliases().toSeq,
      info.columnComments().toSeq,
      info.properties().asScala.toMap)
    GraftViews.write(fs, nsDir(ident.namespace()), v, replace = true)
    v
  }

  override def alterView(ident: Identifier,
                         changes: org.apache.spark.sql.connector.catalog.ViewChange*): org.apache.spark.sql.connector.catalog.View = {
    val cur = GraftViews.read(fs, nsDir(ident.namespace()), ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    val props = changes.foldLeft(cur.props) {
      case (acc, sp: org.apache.spark.sql.connector.catalog.ViewChange.SetProperty) =>
        acc + (sp.property() -> sp.value())
      case (acc, rp: org.apache.spark.sql.connector.catalog.ViewChange.RemoveProperty) =>
        acc - rp.property()
      case (_, other) => throw new IllegalArgumentException(
        s"graft catalog: unsupported view change $other")
    }
    val updated = cur.copy(props = props)
    GraftViews.write(fs, nsDir(ident.namespace()), updated, replace = true)
    updated
  }

  override def dropView(ident: Identifier): Boolean =
    GraftViews.drop(fs, nsDir(ident.namespace()), ident.name())

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val cur = GraftViews.read(fs, nsDir(oldIdent.namespace()), oldIdent)
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(oldIdent))
    if (viewExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(newIdent)
    require(!isTableDir(tableDir(newIdent)),
      s"cannot rename view to $newIdent: a TABLE with that name exists")
    GraftViews.write(fs, nsDir(newIdent.namespace()),
      cur.copy(ident = newIdent), replace = false)
    GraftViews.drop(fs, nsDir(oldIdent.namespace()), oldIdent.name())
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).toSeq
      // dot dirs are staged CTAS tables / replace trash — not tables yet
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith(".") &&
        isTableDir(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  /** The table at `ident`'s own directory (no metadata-table surface). */
  private def loadGraft(ident: Identifier): GraftTable = {
    val dir = tableDir(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    GraftTable.open(fs, ident.toString, dir)
  }

  // --- FunctionCatalog: serves the `bucket` transform function, which is
  // what lets Catalyst resolve two bucketed graft tables' partitioning to
  // the SAME function and plan a storage-partitioned (zero-Exchange) join.
  // Catalyst looks transforms up under the empty namespace
  // (V2ExpressionUtils.loadV2FunctionOpt), listFunctions serves users.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    (GraftBucket.FunctionName +: GraftTimeUnitFunction.Names)
      .map(Identifier.of(namespace, _)).toArray

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name().equalsIgnoreCase(GraftBucket.FunctionName))
      new GraftBucketFunction
    else GraftTimeUnitFunction.Names.find(_.equalsIgnoreCase(ident.name()))
      .map(new GraftTimeUnitFunction(_))
      .getOrElse(throw new NoSuchFunctionException(ident))

  override def functionExists(ident: Identifier): Boolean =
    ident.name().equalsIgnoreCase(GraftBucket.FunctionName) ||
      GraftTimeUnitFunction.Names.exists(_.equalsIgnoreCase(ident.name()))

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!isTableDir(dir)) {
      if (ident.namespace().nonEmpty &&
          (ident.name() == GraftChanges.Suffix ||
            ident.name().startsWith(GraftBranch.IdentPrefix))) {
        val baseIdent = Identifier.of(
          ident.namespace().init, ident.namespace().last)
        val bdir = tableDir(baseIdent)
        val base =
          if (isTableDir(bdir)) Some(GraftTable.open(fs, baseIdent.toString, bdir))
          else None
        base.filter(_.history).foreach { base =>
          // Iceberg-style metadata table: `db.t.changes` is the CHANGELOG
          // of history table `db.t` — row-level change images
          // (insert/delete + commit version) derived from the manifest
          // log, batch- and stream-readable. Resolved here so plain SQL
          // reaches it:
          //   SELECT * FROM graft.db.t.changes
          //   spark.readStream.table("graft.db.t.changes")
          if (ident.name() == GraftChanges.Suffix)
            return new GraftChangesTable(base)
          // BRANCH surface: `db.t.branch_<name>` reads/writes the named
          // branch of history table `db.t` — plain SQL reaches it:
          //   SELECT * FROM graft.db.t.branch_audit
          //   INSERT INTO graft.db.t.branch_audit ...
          //   MERGE INTO graft.db.t.branch_audit ...
          val b = ident.name().stripPrefix(GraftBranch.IdentPrefix)
          if (GraftBranch.baseOf(fs, bdir, b).nonEmpty)
            return GraftTable.fromProps(ident.toString, bdir,
              base.schema(), base.props, branch = Some(b))
        }
      }
      throw new NoSuchTableException(ident)
    }
    GraftTable.open(fs, ident.toString, dir)
  }

  /** Time travel (`VERSION AS OF n`) on history tables: pins the read to
    * manifest `n`.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = loadGraft(ident)
    val dir = new Path(t.dir)
    if (!t.history) throw new UnsupportedOperationException(
      s"$ident is not a history table — create it with TBLPROPERTIES " +
        s"('${GraftTable.HistoryProp}'='true') to enable VERSION AS OF")
    // numbers are manifest versions; anything else resolves through the
    // named-snapshot refs (tags) — `VERSION AS OF 'pre_restatement'`
    val v = GraftRefs.versionOf(fs, dir, version, s"VERSION AS OF on $ident")
    if (!fs.exists(GraftTable.manifestPath(dir, v)))
      throw new IllegalArgumentException(
        s"$ident has no version $v (have: ${GraftTable.manifestVersions(fs, dir).mkString(", ")})")
    pinned(t, v)
  }

  /** A pinned (time-travel) load carries the SAME props as the unpinned
    * one it was resolved from — layout, masks, identity and retention
    * alike: dropping dayCol/timeUnit would silently lose hidden-partition
    * pruning on `VERSION AS OF` reads of a days() table, dropping
    * mor/checks would mis-read a merge-on-read history snapshot, and
    * dropping the masks would make time travel the governance bypass.
    */
  private def pinned(t: GraftTable, v: Long): GraftTable =
    GraftTable.fromProps(t.name(), new Path(t.dir), t.schema(), t.props,
      pinnedVersion = Some(v))

  /** `TIMESTAMP AS OF t` (micros since epoch): resolves to the LATEST
    * manifest committed at-or-before t — commit wall-clock is
    * [[GraftTable.commitTimeMillis]] (the same as-of-last semantics as the
    * engine's AsOfJoin, applied to the commit log).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val t = loadGraft(ident)
    if (!t.history) throw new UnsupportedOperationException(
      s"$ident is not a history table — create it with TBLPROPERTIES " +
        s"('${GraftTable.HistoryProp}'='true') to enable TIMESTAMP AS OF")
    val tsMillis = timestampMicros / 1000L
    val v = GraftTable.versionAtOrBefore(fs, new Path(t.dir), tsMillis)
      .getOrElse(throw new IllegalArgumentException(
        s"$ident has no snapshot at or before timestamp $tsMillis ms"))
    pinned(t, v)
  }

  /** Column[]-based create: the ONLY carrier of identity specs (Spark's
    * StructType conversion drops them) — lift each into table props and
    * delegate. See [[GraftIdentity]] for the generation contract.
    */
  override def createTable(ident: Identifier,
                           columns: Array[org.apache.spark.sql.connector.catalog.Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val ids = columns.filter(_.identityColumnSpec() != null)
    require(ids.length <= 1,
      s"graft catalog: at most one identity column, got " +
        ids.map(_.name()).mkString(", "))
    val props = new util.HashMap[String, String](properties)
    ids.headOption.foreach { c =>
      val sp = c.identityColumnSpec()
      require(c.dataType() == org.apache.spark.sql.types.LongType,
        s"graft catalog: identity column ${c.name()} must be BIGINT, " +
          s"got ${c.dataType()}")
      require(sp.getStep != 0,
        s"graft catalog: identity step must be non-zero")
      props.put(GraftIdentity.ColProp, c.name())
      props.put(GraftIdentity.StartProp, sp.getStart.toString)
      props.put(GraftIdentity.StepProp, sp.getStep.toString)
      props.put(GraftIdentity.ExplicitProp, sp.isAllowExplicitInsert.toString)
    }
    columns.filter(_.generationExpression() != null).foreach { c =>
      require(c.identityColumnSpec() == null,
        s"graft catalog: ${c.name()} cannot be both identity and generated")
      props.put(s"${GraftGenerated.Prefix}${c.name()}", c.generationExpression())
    }
    createTable(ident, org.apache.spark.sql.graftbridge.Bridge
      .v2ColumnsToStructType(columns), partitions, props)
  }

  // --- StagingTableCatalog: atomic CTAS / RTAS --------------------------
  // The staged table is a COMPLETE graft table built in a hidden sibling
  // dir (`.stage-<name>-<uuid>/` under the namespace); the CTAS write
  // runs against it with the full write stack (layout routing, CHECKs,
  // stats, identity, generated columns), and commitStagedChanges installs
  // it by directory RENAME — a failed/killed CTAS leaves the namespace
  // exactly as it was (the staged dir is invisible debris, not a
  // half-written table). REPLACE swaps directories (old dir → trash dir →
  // delete), which starts a FRESH history log: CREATE OR REPLACE is a
  // new-table verb here, documented — the two-rename window is the
  // local-FS trade a pointer-swap metastore wouldn't have.

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties, replace = false,
      orCreate = false)

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties, replace = true,
      orCreate = false)

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String]): org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties, replace = true,
      orCreate = true)

  private def stage(ident: Identifier, schema: StructType,
                    partitions: Array[Transform],
                    properties: util.Map[String, String],
                    replace: Boolean, orCreate: Boolean): org.apache.spark.sql.connector.catalog.StagedTable = {
    val finalDir = tableDir(ident)
    if (!replace && isTableDir(finalDir))
      throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && !isTableDir(finalDir))
      throw new NoSuchTableException(ident)
    val stagedDir = new Path(finalDir.getParent,
      s".stage-${ident.name()}-${java.util.UUID.randomUUID().toString.take(12)}")
    val staged = createTableAt(ident, schema, partitions, properties,
      stagedDir).asInstanceOf[GraftTable]
    new GraftStagedTable(this, ident, staged, stagedDir, finalDir, replace, fs)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    createTableAt(ident, schema, partitions, properties, tableDir(ident))

  /** Table-create body, parameterized by TARGET DIRECTORY so staged
    * (atomic CTAS/RTAS) creates can build a complete table in a hidden
    * sibling dir and commit by rename.
    */
  private[sources] def createTableAt(ident: Identifier, schema: StructType,
                                     partitions: Array[Transform],
                                     properties: util.Map[String, String],
                                     dir: Path): Table = {
    require(!viewExists(ident),
      s"cannot create table $ident: a VIEW with that name exists")
    GraftTable.forgetCachedLog(dir)
    // IDENTITY partition transforms (PARTITIONED BY (col, ...)) or ONE
    // bucket transform (PARTITIONED BY (bucket(n, col))): identity covers
    // the dominant date/tenant layout with `col=value/` dirs; bucket hashes
    // rows into n stable buckets (bucket id in the file NAME) so two
    // co-bucketed tables join without an Exchange (storage-partitioned
    // join). days/years derived transforms are not supported.
    var bucket: Option[(String, Int)] = None
    var dayCol: Option[String] = None
    var timeUnit: String = "days"
    val pcols: Seq[String] = partitions.toSeq.flatMap {
      case t if t.name == "identity" && t.references.length == 1 &&
        t.references.head.fieldNames.length == 1 =>
        Some(t.references.head.fieldNames.head)
      case t if GraftDayPartition.Units.contains(t.name) &&
        t.references.length == 1 &&
        t.references.head.fieldNames.length == 1 =>
        // HIDDEN time partitioning (Iceberg's hours/days/months
        // transforms): the raw column stays in parquet; the layout
        // derives <col>_<unit>=N/ dirs
        require(dayCol.isEmpty,
          "graft catalog: at most one hours/days/months(col) transform")
        dayCol = Some(t.references.head.fieldNames.head)
        timeUnit = t.name
        None
      case t if t.name == GraftBucket.FunctionName =>
        require(bucket.isEmpty,
          "graft catalog: at most one bucket(n, col) transform")
        val n = t.arguments()(0) match {
          case l: Literal[_] if l.dataType() == org.apache.spark.sql.types.IntegerType =>
            l.value().asInstanceOf[Int]
          case other => throw new UnsupportedOperationException(
            s"graft catalog: bucket count must be an INT literal, got $other")
        }
        require(n > 0, s"graft catalog: bucket count must be positive, got $n")
        val col = t.references match {
          case Array(r) if r.fieldNames.length == 1 => r.fieldNames.head
          case _ => throw new UnsupportedOperationException(
            "graft catalog: bucket(n, col) takes exactly one top-level column")
        }
        bucket = Some(col -> n)
        None
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported partition transform $other " +
          "(identity columns or one bucket(n, col))")
    }
    require(bucket.isEmpty || pcols.isEmpty,
      "graft catalog: identity partitions and bucketing cannot be combined " +
        "yet — bucket files are top-level (the directory layout is the " +
        "identity partitions' namespace)")
    require(dayCol.isEmpty || (pcols.isEmpty && bucket.isEmpty),
      "graft catalog: days(col) cannot be combined with identity partitions " +
        "or bucketing yet — one directory-layout owner per table")
    dayCol.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"$timeUnit() column $c not in schema")
      if (!GraftDayPartition.supported(timeUnit, schema(c).dataType))
        throw new UnsupportedOperationException(
          s"graft catalog: $timeUnit($c) does not support " +
            s"${schema(c).dataType} (hours: TIMESTAMP; days/months: " +
            "TIMESTAMP or DATE)")
    }
    bucket.foreach { case (c, _) =>
      require(schema.fieldNames.contains(c), s"bucket column $c not in schema")
      require(GraftBucket.supportedKeyType(schema(c).dataType),
        s"graft catalog: bucket column $c has type ${schema(c).dataType} — " +
          "use BIGINT/INT/STRING")
    }
    pcols.foreach { c =>
      require(schema.fieldNames.contains(c), s"partition column $c not in schema")
      schema(c).dataType match {
        case StringType | org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.BooleanType => ()
        case other => throw new UnsupportedOperationException(
          s"graft catalog: partition column $c has type $other — use string/" +
            "integral/boolean (derive a string day column for dates)")
      }
    }
    require(pcols.size < schema.length,
      "graft catalog: at least one non-partition column required")
    if (isTableDir(dir)) throw new TableAlreadyExistsException(ident)
    // CHECK constraints validate BEFORE any filesystem write — a bad
    // constraint must not leave a half-created table behind
    val checks = properties.asScala.toSeq
      .filter(_._1.startsWith(GraftConstraints.Prefix))
      .map { case (k, v) => (k.stripPrefix(GraftConstraints.Prefix), v) }
      .sortBy(_._1)
    if (checks.nonEmpty)
      GraftConstraints.validate(SparkSession.active, schema, checks)
    fs.mkdirs(dir)
    val out = fs.create(metaFile(dir), true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
    val history = "true".equalsIgnoreCase(
      properties.getOrDefault(GraftTable.HistoryProp, "false"))
    val mor = "true".equalsIgnoreCase(
      properties.getOrDefault(GraftTable.MorProp, "false"))
    val identity = GraftIdentity.specOf(properties.asScala.toMap)
    val generated = GraftGenerated.specsOf(properties.asScala.toMap)
    generated.foreach { case (col, text) =>
      require(schema.fieldNames.contains(col),
        s"generated column $col not in schema")
      require(!dayCol.contains(col) && !bucket.exists(_._1 == col),
        s"graft catalog: generated column $col cannot drive a bucket/" +
          "hidden-time layout (identity partitioning composes — " +
          "PARTITIONED BY over a generated day column is the idiom)")
      // resolves against the NON-generated, non-identity columns only —
      // a bad expression fails the DDL, not the first insert
      GraftGenerated.resolve(SparkSession.active, schema, col, text,
        generated.map(_._1).toSet - col, identity.map(_.col))
    }
    identity.foreach { sp =>
      require(!generated.exists(_._1 == sp.col),
        s"graft catalog: ${sp.col} cannot be both identity and generated")
      require(schema.fieldNames.contains(sp.col),
        s"identity column ${sp.col} not in schema")
      require(history, "graft catalog: identity columns need a history " +
        "table (the allocation watermark is commit metadata in the " +
        "manifest log) — add TBLPROPERTIES('history'='true')")
      require(!pcols.contains(sp.col) && !bucket.exists(_._1 == sp.col) &&
        !dayCol.contains(sp.col),
        s"graft catalog: identity column ${sp.col} cannot also be a " +
          "layout (partition/bucket/time) column")
    }
    // merge-on-read COMPOSES with history snapshots (deletion-vector
    // sidecars versioned in the manifest — each delta commit writes a
    // fresh merged sidecar and re-points its entry, so past snapshots
    // keep their own delete state), with days() partitioning (sidecars
    // sit at the root keyed by the uuid-unique file NAME; delta inserts
    // route through the day layout; materializeDeletes lands rewrites
    // next to their originals) and with bucketing (delta inserts carry
    // the bNNNNN- prefix; rewrites keep the original name or a
    // prefix-preserving -dvm name)
    // index-on-write declarations: validated now (against the physical
    // schema — partition columns prune by path already) and persisted, so
    // the very first append records its entries
    val indexProps = properties.asScala.toMap.filter { case (k, _) =>
      k == GraftBloom.BloomColsProp || k == GraftBloom.TrgmColsProp }
    if (indexProps.nonEmpty)
      GraftBloom.indexOnWriteCols(indexProps,
        StructType(schema.fields.filterNot(f => pcols.contains(f.name))))
    // declared sort-on-write: validated now, persisted, so the very
    // first append already lands range-clustered files (GraftSort)
    val sortCols = GraftSort.sortColsOf(properties.asScala.toMap)
    if (sortCols.nonEmpty)
      GraftSort.validate(sortCols,
        StructType(schema.fields.filterNot(f => pcols.contains(f.name))),
        identity.map(_.col), generated.map(_._1).toSet)
    // governance policies (masking / row filter): validated now,
    // enforced on every read by GraftGovernanceRule
    val govProps = properties.asScala.toMap.filter { case (k, _) =>
      k.startsWith(GraftGovernance.MaskPrefix) ||
        k == GraftGovernance.RowFilterProp }
    if (govProps.nonEmpty)
      GraftGovernance.validate(govProps, schema, pcols)
    // ROW LINEAGE: declared at birth only (every data file must carry the
    // hidden id column — a later opt-in would leave pre-feature files
    // serving NULL ids, a silent lineage gap)
    val rowid = GraftRowId.enabled(properties.asScala.toMap)
    if (rowid) {
      require(history, "graft catalog: row lineage needs a history table " +
        "(the id watermark is commit metadata in the manifest log) — add " +
        "TBLPROPERTIES('history'='true')")
      require(!schema.fieldNames.contains(GraftRowId.Col),
        s"graft catalog: column name ${GraftRowId.Col} is reserved by row " +
          "lineage — rename the column or drop the rowid property")
    }
    // declared retention policy: validated now, applied by
    // graft_apply_retention / GraftMaintenance.applyRetention
    val retProps = properties.asScala.toMap.filter { case (k, _) =>
      GraftRetention.isRetentionProp(k) }
    if (retProps.nonEmpty) {
      GraftRetention.validate(retProps)
      require(history, "graft catalog: retention policies need a history " +
        "table (snapshots are what retention expires) — add " +
        "TBLPROPERTIES('history'='true')")
    }
    val props = GraftTable.stampFormat(indexProps ++ Map(
        GraftTable.HistoryProp -> history.toString,
        GraftTable.MorProp -> mor.toString,
        GraftRowId.Prop -> rowid.toString).filter(_._2 == "true")
      ++ (if (pcols.nonEmpty) Map(GraftTable.PartitionProp -> pcols.mkString(","))
          else Map.empty)
      ++ bucket.map { case (c, n) => Map(
           GraftTable.BucketColProp -> c,
           GraftTable.BucketCountProp -> n.toString) }.getOrElse(Map.empty)
      ++ checks.map { case (n, t) => s"${GraftConstraints.Prefix}$n" -> t }
      ++ dayCol.map(GraftTable.DayColProp -> _)
      ++ (if (dayCol.nonEmpty && timeUnit != "days")
            Map(GraftTable.TimeUnitProp -> timeUnit) else Map.empty)
      ++ identity.map(sp => Map(
           GraftIdentity.ColProp -> sp.col,
           GraftIdentity.StartProp -> sp.start.toString,
           GraftIdentity.StepProp -> sp.step.toString,
           GraftIdentity.ExplicitProp -> sp.allowExplicit.toString))
         .getOrElse(Map.empty)
      ++ generated.map { case (c, t) =>
           s"${GraftGenerated.Prefix}$c" -> t }
      ++ (if (sortCols.nonEmpty)
            Map(GraftSort.SortColsProp -> sortCols.mkString(","))
          else Map.empty)
      ++ govProps ++ retProps)
    // no declared feature: a plain table, no props file
    if (props.nonEmpty) GraftTable.writeProps(fs, dir, props)
    if (history) // v1 = the empty table
      GraftTable.commitRetrying(fs, dir)(
        GraftTable.pinnedAt(ident.toString, 0L)(Nil))
    GraftTable.fromProps(ident.toString, dir, schema, props)
  }

  /** Schema evolution, metadata-only (the footer-merge discipline of
    * `src_merge_schema`, as a catalog verb): ADD COLUMN rewrites ONLY the
    * schema file — existing parquet files are never touched; the read
    * path NULL-fills requested-but-absent columns (Spark's clipped
    * parquet schema), so old files surface the new column as NULL.
    * DROP COLUMN is likewise metadata-only (parquet column pruning means
    * dropped data simply stops being read) — and RETIRES the column's
    * whole name chain, because re-adding a once-used name would resurrect
    * the old bytes still sitting in existing files (the hole field IDs
    * close in other formats; here the retired list closes it).
    * RENAME COLUMN is a NAME-MAPPING commit ([[GraftEvolution]]): the old
    * name joins the column's alias chain, the stats/bloom logs re-key,
    * and the read path resolves per file — old files keep serving the
    * column's bytes under its new name. Type changes are admitted only
    * for the WIDENINGS Spark's parquet converters up-convert natively
    * (byte→short→int→long, float→double); anything else is rejected.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t0 = loadGraft(ident)
    val dir = new Path(t0.dir)
    val props0 = t0.props
    def layoutGuard(name: String, verb: String): Unit = {
      require(!t0.partitionCols.contains(name),
        s"graft catalog: cannot $verb partition column $name " +
          "(the directory layout depends on it)")
      // engine-computed columns: the identity watermark key and the
      // generation-expression props embed column names
      require(!t0.identity.exists(_.col == name),
        s"graft catalog: cannot $verb identity column $name " +
          "(the allocation watermark is keyed by its name)")
      t0.generated.foreach { case (g, text) =>
        require(g != name,
          s"graft catalog: cannot $verb generated column $name")
        require(!GraftGenerated.referencedCols(SparkSession.active, text)
            .contains(name),
          s"graft catalog: cannot $verb column $name — generated column " +
            s"$g is computed from it ($text)")
      }
      require(!t0.bucketSpec.exists(_._1 == name),
        s"graft catalog: cannot $verb bucket column $name " +
          "(row placement depends on it)")
      require(!t0.dayCol.contains(name),
        s"graft catalog: cannot $verb hidden-time column $name " +
          "(the day layout derives from it)")
      require(!t0.pastTimeSpecs.exists(_._1 == name),
        s"graft catalog: cannot $verb column $name — a PAST time-partition " +
          "spec wrote directory segments under it and pruning resolves " +
          "them by name")
    }
    // live equality-delete masks compose with rename/widen (round 13):
    // sidecars store the key names and typed values of their upsert
    // epoch, and the read path resolves them per sidecar exactly like it
    // resolves data files — stored name through the alias chain to the
    // current column, values up-converted to the current width
    // (GraftEqDelete.keySet)
    case class Evo(schema: StructType, aliases: Map[String, Seq[String]],
                   retired: Seq[String], widened: Set[String])
    val evo0 = Evo(t0.schema(), t0.aliases,
      GraftEvolution.retiredOf(props0), t0.widened)
    var indexPropChanges: Map[String, Option[String]] = Map.empty
    val evo = changes.foldLeft(evo0) { (st, ch) =>
      ch match {
        case add: TableChange.AddColumn =>
          require(add.fieldNames().length == 1,
            "graft catalog: nested ADD COLUMN not supported")
          // without a DEFAULT, existing files can only NULL-fill the new
          // column, so it must be nullable; WITH one, the read path
          // serves the default for pre-add files and NOT NULL is honest
          require(add.isNullable || add.defaultValue() != null,
            "graft catalog: added columns must be nullable (existing " +
              "files NULL-fill) unless they carry a DEFAULT")
          val name = add.fieldNames().head
          require(!st.schema.fieldNames.contains(name),
            s"column $name already exists")
          // a once-used name (alias of a live column, or retired by a
          // DROP) must never be reborn: old files still hold bytes under
          // it, and the new column would silently serve them instead of
          // the NULLs (or default) an added column promises
          require(!GraftEvolution.allKnownNames(st.schema, st.aliases,
              st.retired).contains(name),
            s"graft catalog: column name $name was previously used on " +
              s"$ident (rename history or dropped column) — existing " +
              "files still hold bytes under it; pick a fresh name")
          // Spark's own fold stamps the CURRENT/EXISTS default metadata
          // exactly the way its INSERT resolution and our read path read
          // them back
          st.copy(schema = org.apache.spark.sql.graftbridge.Bridge
            .applySchemaChanges(st.schema, Seq(add)))
        case del: TableChange.DeleteColumn =>
          require(del.fieldNames().length == 1,
            "graft catalog: nested DROP COLUMN not supported")
          val name = del.fieldNames().head
          layoutGuard(name, "drop")
          if (!st.schema.fieldNames.contains(name)) {
            if (del.ifExists()) st
            else throw new IllegalArgumentException(s"no such column: $name")
          } else {
            require(st.schema.length > 1, "cannot drop the last column")
            // the dropped column's entire name chain is retired
            st.copy(
              schema = StructType(st.schema.fields.filterNot(_.name == name)),
              aliases = st.aliases - name,
              widened = st.widened - name,
              retired =
                (st.retired ++ st.aliases.getOrElse(name, Nil) :+ name).distinct)
          }
        case ren: TableChange.RenameColumn =>
          require(ren.fieldNames().length == 1,
            "graft catalog: nested RENAME COLUMN not supported")
          val from = ren.fieldNames().head
          val to = ren.newName()
          require(st.schema.fieldNames.contains(from), s"no such column: $from")
          layoutGuard(from, "rename")
          require(!GraftEvolution.allKnownNames(st.schema, st.aliases,
              st.retired).contains(to),
            s"graft catalog: cannot rename $from to $to — the name is (or " +
              s"once was) in use on $ident and existing files may still " +
              "hold bytes under it")
          st.copy(
            schema = StructType(st.schema.fields.map(f =>
              if (f.name == from) f.copy(name = to) else f)),
            aliases = (st.aliases - from) +
              (to -> (st.aliases.getOrElse(from, Nil) :+ from)),
            widened =
              if (st.widened.contains(from)) st.widened - from + to
              else st.widened)
        case upd: TableChange.UpdateColumnType =>
          require(upd.fieldNames().length == 1,
            "graft catalog: nested ALTER COLUMN TYPE not supported")
          val name = upd.fieldNames().head
          require(st.schema.fieldNames.contains(name), s"no such column: $name")
          layoutGuard(name, "re-type")
          val from = st.schema(name).dataType
          val to = upd.newDataType()
          if (from == to) st
          else {
            require(GraftEvolution.canWiden(from, to),
              s"graft catalog: cannot change $name from ${from.simpleString} " +
                s"to ${to.simpleString} — only widenings the parquet reader " +
                "up-converts in place are metadata-only (byte→short→int→" +
                "long, float→double); anything else rewrites data")
            st.copy(
              schema = StructType(st.schema.fields.map(f =>
                if (f.name == name) f.copy(dataType = to) else f)),
              widened = st.widened + name)
          }
        case upd: TableChange.UpdateColumnDefaultValue =>
          require(upd.fieldNames().length == 1,
            "graft catalog: nested ALTER COLUMN DEFAULT not supported")
          val name = upd.fieldNames().head
          require(st.schema.fieldNames.contains(name), s"no such column: $name")
          // changes FUTURE inserts only (CURRENT_DEFAULT); what pre-add
          // files serve (EXISTS_DEFAULT) was frozen when the column was
          // added — Spark's fold implements exactly that split
          st.copy(schema = org.apache.spark.sql.graftbridge.Bridge
            .applySchemaChanges(st.schema, Seq(upd)))
        // index-on-write declarations are plain properties: SET/UNSET
        // here so an existing table can opt in (validated below against
        // the EVOLVED schema — the same ALTER may add the column)
        case sp: TableChange.SetProperty
            if sp.property == GraftBloom.BloomColsProp ||
              sp.property == GraftBloom.TrgmColsProp ||
              sp.property == GraftSort.SortColsProp ||
              sp.property.startsWith(GraftGovernance.MaskPrefix) ||
              sp.property == GraftGovernance.RowFilterProp ||
              sp.property.startsWith("ann.") || // ANN index maintenance state
              GraftRetention.isRetentionProp(sp.property) =>
          indexPropChanges += sp.property -> Some(sp.value); st
        case rp: TableChange.RemoveProperty
            if rp.property == GraftBloom.BloomColsProp ||
              rp.property == GraftBloom.TrgmColsProp ||
              rp.property == GraftSort.SortColsProp ||
              rp.property.startsWith(GraftGovernance.MaskPrefix) ||
              rp.property == GraftGovernance.RowFilterProp ||
              rp.property.startsWith("ann.") ||
              GraftRetention.isRetentionProp(rp.property) =>
          indexPropChanges += rp.property -> None; st
        case other => throw new UnsupportedOperationException(
          s"graft catalog: unsupported table change $other " +
            "(add/drop/rename column, widening type change, column " +
            "defaults, index-on-write properties)")
      }
    }
    val updated = evo.schema
    // a schema change that breaks a CHECK constraint must fail the DDL,
    // not poison every future write with an unresolvable constraint —
    // this also catches renaming/dropping a column a CHECK references
    val checks = t0.checks
    if (checks.nonEmpty)
      try GraftConstraints.validate(SparkSession.active, updated, checks)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"graft catalog: schema change on $ident breaks a CHECK constraint " +
            s"(${e.getMessage}) — drop the constraint first", e)
      }
    // metadata-log re-keys BEFORE the schema swap becomes visible: stats
    // bounds and bloom bits are value-canonical, so a rename is a pure
    // re-label of their column keys
    val renames = scala.collection.mutable.Map[String, String]()
    evo.aliases.foreach { case (cur, olds) =>
      if (!evo0.aliases.contains(cur) || evo0.aliases(cur) != olds)
        olds.lastOption.filterNot(o => evo0.aliases.get(cur).exists(_.contains(o)))
          .foreach { renamedFrom =>
            GraftFileLog.renameColumn(fs, dir, renamedFrom, cur)
            renames += renamedFrom -> cur
          }
    }
    // RENAME COLUMN re-keys column declarations (index-on-write CSVs,
    // sort-on-write CSV, per-column mask keys) along with the metadata
    // logs — a declaration must follow its column, not strand on a dead
    // name: an index would fail the next write, a MASK would silently
    // stop masking
    def rekeyCsv(m: Map[String, String]): Map[String, String] =
      if (renames.isEmpty) m
      else m.map {
        case (k, v) if k == GraftBloom.BloomColsProp ||
            k == GraftBloom.TrgmColsProp || k == GraftSort.SortColsProp =>
          k -> v.split(",").map(c => renames.getOrElse(c.trim, c.trim))
            .mkString(",")
        case (k, v) if k.startsWith(GraftGovernance.MaskPrefix) =>
          val c = k.stripPrefix(GraftGovernance.MaskPrefix)
          s"${GraftGovernance.MaskPrefix}${renames.getOrElse(c, c)}" -> v
        case kv => kv
      }
    val newProps = rekeyCsv(props0
      -- props0.keys.filter(_.startsWith(GraftEvolution.AliasPrefix))
      - GraftEvolution.RetiredProp - GraftEvolution.WidenedProp)
      .++(evo.aliases.map { case (cur, olds) =>
        s"${GraftEvolution.AliasPrefix}$cur" -> GraftEvolution.encodeAliases(olds) })
      .++(if (evo.retired.nonEmpty)
            Map(GraftEvolution.RetiredProp ->
              GraftEvolution.encodeRetired(evo.retired))
          else Map.empty)
      .++(if (evo.widened.nonEmpty)
            Map(GraftEvolution.WidenedProp ->
              GraftEvolution.encodeWidened(evo.widened))
          else Map.empty)
      .++(indexPropChanges.collect { case (k, Some(v)) => k -> v })
      .--(indexPropChanges.collect { case (k, None) => k })
    // validate index-on-write + sort-on-write declarations against the
    // EVOLVED physical schema, loudly, before anything persists
    if (indexPropChanges.nonEmpty) {
      val pcols = newProps.get(GraftTable.PartitionProp)
        .map(_.split(",").toSeq).getOrElse(Nil)
      val phys = StructType(updated.fields.filterNot(f => pcols.contains(f.name)))
      GraftBloom.indexOnWriteCols(newProps, phys)
      GraftSort.validate(GraftSort.sortColsOf(newProps), phys,
        GraftIdentity.specOf(newProps).map(_.col),
        GraftGenerated.specsOf(newProps).map(_._1).toSet)
      GraftRetention.validate(newProps)
      if (newProps.keys.exists(GraftRetention.isRetentionProp))
        require(newProps.get(GraftTable.HistoryProp).contains("true"),
          "graft catalog: retention policies need a history table")
    }
    // governance policies must survive EVERY change here (mask keys were
    // re-keyed with their renamed columns above; a DROP that strands a
    // mask, a rename that breaks the row filter, or a bad SET all fail
    // the DDL — the CHECK-constraint discipline)
    try GraftGovernance.validate(newProps, updated,
      newProps.get(GraftTable.PartitionProp)
        .map(_.split(",").toSeq).getOrElse(Nil))
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"graft catalog: change on $ident breaks a governance policy " +
          s"(${e.getMessage}) — drop the mask/row-filter first", e)
    }
    if (newProps != props0) GraftTable.writeProps(fs, dir, newProps)
    val out = fs.create(metaFile(dir), true)
    try out.write(updated.json.getBytes("UTF-8")) finally out.close()
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    // DROP on a REGISTERED table is UNREGISTER: only the warehouse pointer
    // stub is deleted — the external location's metadata and data survive
    // and stay re-registerable (the external-table contract; Iceberg and
    // Hive EXTERNAL drop the same way). Managed tables delete fully.
    if (isRegistered(ident)) fs.delete(stubDir(ident), true)
    else {
      val dir = stubDir(ident)
      try isTableDir(dir) && fs.delete(dir, true)
      finally GraftTable.forgetCachedLog(dir)
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!isTableDir(stubDir(oldIdent)))
      throw new NoSuchTableException(oldIdent)
    if (isTableDir(stubDir(newIdent)))
      throw new TableAlreadyExistsException(newIdent)
    // renaming a registered table moves only the pointer stub — external
    // bytes never move on a catalog rename
    fs.mkdirs(stubDir(newIdent).getParent)
    fs.rename(stubDir(oldIdent), stubDir(newIdent))
  }

  /** Register an EXISTING graft table directory as `ident` (external
    * location): validates the location is a table, then writes only a
    * one-line pointer stub under the warehouse. Zero bytes copied, zero
    * data files touched — the metadata-only "adopt a 100 TB table"
    * verb (Iceberg's register_table). Reads, DML, maintenance and
    * time travel all follow the pointer; DROP TABLE unregisters.
    */
  def registerTable(ident: Identifier, location: String): Unit = {
    val loc = new Path(location)
    require(fs.exists(new Path(loc, GraftTable.MetaFile)),
      s"graft_register: $location is not a graft table directory " +
        "(no schema file) — register adopts existing tables, it does " +
        "not create them")
    val stub = stubDir(ident)
    if (isTableDir(stub) || isRegistered(ident))
      throw new TableAlreadyExistsException(ident)
    if (viewExists(ident))
      throw new IllegalArgumentException(
        s"graft_register: a VIEW named $ident exists")
    fs.mkdirs(stub)
    // the pointer install serializes on the SAME pluggable atomic
    // primitive as manifest commits (GraftCommitPrimitive): a raw
    // create(overwrite=false) is check-then-open on local-FS-like
    // stores, so two racing registers could both pass the existence
    // checks above and silently clobber each other's pointer — with the
    // primitive exactly one wins and the loser fails with the standard
    // already-exists error
    try GraftCommitPrimitive.forFs(fs).commit(fs,
      new Path(stub, GraftTable.LocationFile),
      loc.toString.getBytes("UTF-8"))
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new TableAlreadyExistsException(ident)
    }
  }

  // --- namespaces: directories without a table meta file ---
  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(warehouse)) Array.empty
    else fs.listStatus(warehouse).toSeq
      .filter(st => st.isDirectory && !isTableDir(st.getPath))
      .map(st => Array(st.getPath.getName)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsDir(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && !isTableDir(st.getPath))
      .map(st => namespace :+ st.getPath.getName).toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!fs.exists(nsDir(namespace))) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    fs.mkdirs(nsDir(namespace))

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog: ALTER NAMESPACE not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsDir(namespace)
    if (!fs.exists(dir)) return false
    if (!cascade && fs.listStatus(dir).nonEmpty)
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
    fs.delete(dir, true)
  }
}

object GraftCatalog {
  /** The graft catalog registered as `name` in this session: the one place
    * a catalog name resolves.
    */
  def named(spark: SparkSession, name: String): GraftCatalog =
    org.apache.spark.sql.graftbridge.Bridge.catalogPlugin(spark, name) match {
      case g: GraftCatalog => g
      case other => throw new IllegalArgumentException(
        s"catalog $name is ${other.getClass.getName}, not a GraftCatalog")
    }

  /** A dotted table name ('ns.t'): the last part names the table, the
    * rest its namespace.
    */
  def ident(table: String): Identifier = {
    val parts = table.split('.')
    Identifier.of(parts.init, parts.last)
  }
}

object GraftTable {
  val MetaFile = "_graft_table.json"
  /** One-line pointer stub for REGISTERED external tables: the warehouse
    * path holds only this file; everything else lives at the location it
    * names (GraftCatalog.resolveDir follows it).
    */
  val LocationFile = "_graft_location"
  val PropsFile = "_graft_props.txt"
  val FileCol = "_file"
  val PosCol = "_pos"
  val HistoryProp = "history"
  val MorProp = "merge-on-read"
  val PartitionProp = "partition-cols"
  val BucketColProp = "bucket-col"
  val DayColProp = "partition-days-col"
  val TimeUnitProp = "partition-time-unit"
  // PARTITION EVOLUTION: former time specs, newest first, `col:unit`
  // URL-encoded per entry — files written under them keep their segment
  // layout and stay prunable (GraftDayPartition.survivesSpecs)
  val PastTimeSpecsProp = "partition-time-past"
  val BucketCountProp = "bucket-count"
  val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  // --- format / protocol versioning (Delta's reader/writer protocol,
  // Iceberg's format-version) ---
  // A build that doesn't understand a table's features must refuse, not
  // mis-read: a DV-unaware reader would RESURRECT deleted rows, a
  // lineage-unaware writer would silently re-mint row ids, a CHECK-
  // unaware writer would land unvalidated rows. Each capability maps to
  // a version; tables stamp the requirement at CREATE (computed from
  // their declared features, so hand-stamping is never needed) and every
  // load recomputes the floor from the feature props themselves —
  // legacy tables without stamps enforce identically. Readers refuse
  // requirements above SupportedReader at load; writers refuse above
  // SupportedWriter at write-build time (reads of such tables still
  // work — the Delta reader/writer split). Raising a stamp BY HAND
  // (TBLPROPERTIES) is the forward-compat escape hatch: it fences old
  // builds off a table before migrating it to features they predate.
  //   reader 1: COW history/plain   2: +MOR row masks   3: +row lineage
  //   writer 1: plain appends       2: +declared write contracts
  //            (CHECKs, identity, generated, sort-on-write)   3: +lineage
  val FormatReaderProp = "graft.format.reader"
  val FormatWriterProp = "graft.format.writer"
  val SupportedReader = 3
  val SupportedWriter = 3

  private def computedFormat(props: Map[String, String]): (Int, Int) = {
    val mor = props.get(MorProp).contains("true")
    val rowid = props.get(GraftRowId.Prop).contains("true")
    val reader = if (rowid) 3 else if (mor) 2 else 1
    val writerContracts = props.contains(GraftIdentity.ColProp) ||
      props.contains(GraftSort.SortColsProp) ||
      props.keys.exists(k => k.startsWith(GraftConstraints.Prefix) ||
        k.startsWith(GraftGenerated.Prefix))
    (reader, math.max(reader, if (writerContracts) 2 else 1))
  }

  /** Effective (reader, writer) requirement: the computed feature floor,
    * raised by any explicit stamp. A malformed stamp (the documented
    * escape hatch is hand-edited TBLPROPERTIES) refuses with the property
    * and table named — not a bare NumberFormatException on every
    * subsequent load.
    */
  def requiredFormat(props: Map[String, String],
                     context: String = "table"): (Int, Int) = {
    val (cr, cw) = computedFormat(props)
    def stamp(key: String): Int = props.get(key).map { raw =>
      require(raw.trim.matches("\\d{1,4}"),
        s"$context: property $key='$raw' is not a plain version number — " +
          "fix the hand-stamped value (ALTER TABLE ... SET TBLPROPERTIES " +
          s"('$key'='3'))")
      raw.trim.toInt
    }.getOrElse(1)
    (math.max(cr, stamp(FormatReaderProp)),
      math.max(cw, stamp(FormatWriterProp)))
  }

  /** CREATE-time stamping: explicit only when above the floor every build
    * supports implicitly (keeps legacy prop files byte-stable).
    */
  def stampFormat(props: Map[String, String]): Map[String, String] = {
    val (r, w) = requiredFormat(props)
    props ++
      (if (r > 1) Map(FormatReaderProp -> r.toString) else Map.empty) ++
      (if (w > 1) Map(FormatWriterProp -> w.toString) else Map.empty)
  }

  def enforceRead(props: Map[String, String], what: String): Unit = {
    val r = requiredFormat(props, what)._1
    require(r <= SupportedReader,
      s"$what requires format reader version $r; this build supports " +
        s"<= $SupportedReader — upgrade the engine before reading (a " +
        "version-blind read would silently serve wrong rows)")
  }

  def enforceWrite(requiredWriter: Int, what: String): Unit =
    require(requiredWriter <= SupportedWriter,
      s"$what requires format writer version $requiredWriter; this build " +
        s"supports <= $SupportedWriter — the table stays readable, but " +
        "writing from this build would break contracts it cannot see")

  /** Partition-value ↔ path-segment codec, delegated to Spark's own Hive
    * path escaping so `spark.read.parquet(tableDir)` partition discovery
    * decodes the directories identically.
    */
  def escapeSeg(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(s)
  def unescapeSeg(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** Typed partition values of `file`, parsed from its `col=value` path
    * segments under `tableDir`, aligned with `partCols`. Fails loudly on
    * layout drift (a missing segment means the directory tree was edited
    * by hand).
    */
  def parsePartValues(tableDir: String, file: String,
                      partCols: Seq[StructField]): Array[Any] = {
    val rel = relativize(new Path(tableDir), new Path(file))
    val segs = rel.split('/').dropRight(1).flatMap { s =>
      s.split("=", 2) match {
        case Array(k, v) => Some(k -> unescapeSeg(v))
        case _ => None
      }
    }.toMap
    partCols.map { f =>
      val raw = segs.getOrElse(f.name, throw new IllegalStateException(
        s"file $file lacks a ${f.name}= partition segment"))
      if (raw == NullPartition) null
      else f.dataType match {
        case StringType => UTF8String.fromString(raw)
        case org.apache.spark.sql.types.LongType => raw.toLong
        case org.apache.spark.sql.types.IntegerType => raw.toInt
        case org.apache.spark.sql.types.ShortType => raw.toShort
        case org.apache.spark.sql.types.ByteType => raw.toByte
        case org.apache.spark.sql.types.BooleanType => raw.toBoolean
        case other => throw new IllegalStateException(
          s"unsupported partition type $other for ${f.name}")
      }
    }.toArray
  }

  /** Path of `file` relative to `dir` (manifest entries and partition
    * parsing both key on this; plain file name when not nested).
    */
  def relativize(dir: Path, file: Path): String = {
    val d = dir.toUri.getPath.stripSuffix("/")
    val f = file.toUri.getPath
    // FOREIGN paths (outside the table dir) stay ABSOLUTE — shallow
    // clones reference the source table's files verbatim, and
    // parseEntryLine's Path(dir, child) resolution keeps absolute
    // children as-is
    if (f.startsWith(d + "/")) f.substring(d.length + 1) else f
  }

  /** Table properties: newline-separated key=value lines in PropsFile
    * (absent file = no properties, i.e. a plain eager-commit COW table).
    */
  private def readProps(fs: FileSystem, dir: Path): Map[String, String] = {
    val p = new Path(dir, PropsFile)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    lines.flatMap { l =>
      l.split("=", 2) match {
        case Array(k, v) => Some(k.trim -> v.trim)
        case _ => None
      }
    }.toMap
  }

  private def readSchemaFile(fs: FileSystem, dir: Path): StructType = {
    val in =
      try fs.open(new Path(dir, MetaFile))
      catch {
        case _: java.io.FileNotFoundException => throw new IllegalArgumentException(
          s"$dir is not a graft catalog table (no $MetaFile)")
      }
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** Snapshot log of a history table: (version, commit millis, data-file
    * count, total bytes) per manifest — the DESCRIBE HISTORY surface,
    * exposed to SQL via the `graft_history` TVF.
    */
  def snapshots(t: GraftTable): Seq[(Long, Long, Long, Long)] = {
    require(t.history, s"${t.name()} is not a history table")
    val dir = new Path(t.dir)
    val fs = dir.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    // manifest-lifted sizes when recorded — the per-version walk then
    // touches only the metadata log; getFileStatus covers stray files
    val stats = GraftFileLog.stats(fs, dir)
    GraftTable.manifestVersions(fs, dir).map { v =>
      val snap = GraftTable.snapshotAt(fs, dir, v)
      val bytes = snap.entries.map { e =>
        stats.get(new Path(e.file).getName).map(_.size)
          .getOrElse(fs.getFileStatus(new Path(e.file)).getLen)
      }.sum
      (v, snap.commitMillis, snap.entries.size.toLong, bytes)
    }
  }

  /** Deletion-vector density report for a merge-on-read table: per data
    * file (name, physical rows, deleted rows, live rows). Physical row
    * counts come from parquet footers (driver-side O(files) metadata, like
    * `snapshots`); deleted counts are bitmap cardinalities. This is the
    * operational dial for `GraftMaintenance.materializeDeletes` — when
    * deleted/physical crosses the read-amplification threshold, fold the
    * DV in. Exposed to SQL via the `graft_dv_stats` TVF.
    */
  def dvStats(t: GraftTable): Seq[(String, Long, Long, Long)] = {
    require(t.mor, s"${t.name()} is not a merge-on-read table")
    val dir = new Path(t.dir)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    // history tables: the CURRENT snapshot's entries carry the DV mapping;
    // plain tables: directory listing + name-keyed sidecars
    val entries: Seq[(String, Option[String])] =
      if (t.history)
        GraftTable.readEntries(fs, dir,
          GraftTable.manifestVersions(fs, dir).last)
      else GraftTable.dataFiles(fs, dir).map { f =>
        val dvPath = new Path(dir, GraftDv.dvName(new Path(f).getName))
        f -> (if (fs.exists(dvPath)) Some(dvPath.toString) else None)
      }
    entries.map { case (f, dv) =>
      val p = new Path(f)
      val rows = {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try r.getRecordCount finally r.close()
      }
      val deleted =
        dv.map(d => GraftDv.read(fs, new Path(d)).getLongCardinality).getOrElse(0L)
      (p.getName, rows, deleted, rows - deleted)
    }
  }

  /** Load the table at `dir`: the one place a [[GraftTable]] is read from
    * disk. The props file is read ONCE, here, and the table derives every
    * layout field from that props map; the schema file is read at most
    * once, on the table's first `schema()`.
    */
  def open(fs: FileSystem, ident: String, dir: Path,
           pinnedVersion: Option[Long] = None,
           branch: Option[String] = None): GraftTable =
    fromProps(ident, dir, readSchemaFile(fs, dir), readProps(fs, dir),
      pinnedVersion, branch)

  /** The graft table `table` ('ns.t') of catalog `catalog`, loaded through
    * the catalog (registered locations resolved, reader format enforced).
    */
  def load(spark: SparkSession, catalog: String, table: String): GraftTable =
    GraftCatalog.named(spark, catalog).loadTable(GraftCatalog.ident(table)) match {
      case t: GraftTable => t
      case other => throw new IllegalArgumentException(
        s"$catalog.$table is ${other.getClass.getName}, not a graft table")
    }

  /** The pure props → table step behind [[open]]: refuses a reader format
    * this build predates, then builds the table. CREATE uses it with the
    * props it just wrote, a time-travel load with the props its current
    * load read.
    */
  def fromProps(ident: String, dir: Path, schema: => StructType,
                props: Map[String, String],
                pinnedVersion: Option[Long] = None,
                branch: Option[String] = None): GraftTable = {
    enforceRead(props, ident)
    new GraftTable(ident, dir.toString, () => schema, props, pinnedVersion,
      branch)
  }

  def decodePastTimeSpecs(props: Map[String, String]): Seq[(String, String)] =
    props.get(PastTimeSpecsProp).toSeq
      .flatMap(_.split(";").toSeq.filter(_.nonEmpty))
      .flatMap { e =>
        e.split(":", 2) match {
          case Array(c, u) =>
            Some(java.net.URLDecoder.decode(c, "UTF-8") -> u)
          case _ => None
        }
      }

  def encodePastTimeSpecs(specs: Seq[(String, String)]): String =
    specs.map { case (c, u) =>
      s"${java.net.URLEncoder.encode(c, "UTF-8")}:$u" }.mkString(";")

  def writeProps(fs: FileSystem, dir: Path, props: Map[String, String]): Unit = {
    val out = fs.create(new Path(dir, PropsFile), true)
    try out.write(props.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Data files of a table directory, deterministic order. Recurses into
    * partition subdirectories (`col=value/...`); dot/underscore dirs
    * (staging, metadata) are never entered.
    */
  def dataFiles(fs: FileSystem, dir: Path): Seq[String] = {
    def walk(d: Path): Seq[String] = fs.listStatus(d).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isDirectory) walk(st.getPath)
      else if (st.isFile && n.endsWith(".parquet")) Seq(st.getPath.toString)
      else Nil
    }
    walk(dir).sorted
  }

  // --- snapshot manifests (history tables) ---
  // One newline-separated list of data-file NAMES per version; the
  // exclusive create of the next manifest is the atomic commit point.
  // A line may carry a TAB-separated deletion-vector sidecar name after
  // the data file (merge-on-read history tables): DVs are then VERSIONED
  // like data files — each delta commit writes a fresh merged sidecar and
  // re-points the entry, so past snapshots keep their own delete state
  // and time travel resurrects deleted rows exactly.
  private val ManifestRe = """_graft_manifest_(\d+)\.txt""".r

  /** Branch manifests live in the SAME table root under a per-branch file
    * namespace (`_graft_branch_<name>_manifest_<v>.txt`), so entry lines
    * stay dir-relative and data/segment files are SHARED with main — a
    * branch commit is exactly a main commit in a different namespace.
    * Branch names exclude '_' (GraftBranch.validate) so the namespace
    * parses unambiguously.
    */
  def manifestPath(dir: Path, v: Long, branch: Option[String] = None): Path =
    branch match {
      case None => new Path(dir, f"_graft_manifest_$v%08d.txt")
      case Some(b) => new Path(dir, f"_graft_branch_${b}_manifest_$v%08d.txt")
    }

  private def branchManifestRe(b: String) =
    (java.util.regex.Pattern.quote(s"_graft_branch_${b}_manifest_") +
      """(\d+)\.txt""").r

  /** `!ts=` manifest meta key: the commit wall-clock stamped INSIDE the
    * manifest's atomic unit, strictly monotonic per table. File mtimes
    * cannot serve: stores without `setTimes` cannot separate a
    * same-millisecond commit pair, and replication/restore of manifest
    * FILES reset their mtimes — meta stamps ride the bytes, so commit
    * times survive copies and are portable to object stores.
    */
  val TsMetaKey = "ts"

  /** Commit wall-clock of version `v`: the `!ts=` meta stamp when the
    * manifest carries one, else the file's modification time (a manifest
    * written by hand or by a foreign tool). Every timestamp surface
    * (TIMESTAMP AS OF, `graft_history`, `graft_row_diff`/`graft_changes`
    * bounds, age-based retention) reads through here so they can never
    * drift apart.
    */
  def commitTimeMillis(fs: FileSystem, dir: Path, v: Long,
                       branch: Option[String] = None): Long =
    snapshotAt(fs, dir, v, branch).commitMillis

  /** Latest manifest version committed at-or-before `tsMillis` — commit
    * wall-clock is [[commitTimeMillis]] (the `!ts=` meta stamp, mtime for
    * a manifest without one), the SAME at-or-before rule `TIMESTAMP AS OF`
    * time travel applies; every timestamp-bounded surface resolves
    * through here so they can never drift apart. Stamps are strictly
    * monotonic per table (createManifest bumps same-ms ties), so a
    * commit's own committed_at always resolves back to that commit.
    */
  def versionAtOrBefore(fs: FileSystem, dir: Path,
                        tsMillis: Long): Option[Long] =
    manifestVersions(fs, dir)
      .filter(v => commitTimeMillis(fs, dir, v) <= tsMillis)
      .lastOption

  def manifestVersions(fs: FileSystem, dir: Path,
                       branch: Option[String] = None): Seq[Long] = {
    val re = branch.map(branchManifestRe).getOrElse(ManifestRe)
    fs.listStatus(dir).toSeq.flatMap(st => st.getPath.getName match {
      case re(v) if st.isFile => Some(v.toLong)
      case _ => None
    }).sorted
  }

  /** One manifest entry: a data file with its row-level masks — the
    * optional positional deletion-vector sidecar (merge-on-read) and the
    * EQUALITY-delete files that apply to it (upsert-by-key; a row is
    * masked when its key appears in any of them). Both are VERSIONED with
    * the entry, so every snapshot keeps its own delete state.
    */
  case class GraftEntry(file: String, dv: Option[String] = None,
                        eqs: Seq[String] = Nil)

  /** Manifest entries of version `v`: (absolute data file, optional
    * absolute deletion-vector sidecar). The 2-tuple view of
    * [[readFullEntries]] for call sites that don't touch equality masks.
    */
  def readEntries(fs: FileSystem, dir: Path, v: Long,
                  branch: Option[String] = None): Seq[(String, Option[String])] =
    readFullEntries(fs, dir, v, branch).map(e => e.file -> e.dv)

  // --- manifest SEGMENTS (Iceberg's manifest-list shape) ---------------
  // A version manifest may reference immutable SEGMENT files
  // (`@<segment-name>` lines) instead of inlining every entry: an append
  // to a table with S segments and F files writes ONE new segment holding
  // just the appended entries plus a version file of S+1 refs — O(ΔF + S)
  // instead of O(F). Unchanged segments are REUSED by reference across
  // versions (full-containment check at write time), so `snapshots()` and
  // the change feed parse each segment once per driver (immutable,
  // uuid-named → cacheable forever). Plain inline manifests (pre-segment
  // tables) read unchanged; the first commit through this path migrates
  // them. When the segment list would exceed [[MaxSegments]], the write
  // compacts all entries into one fresh segment — amortized O(F), the
  // same rewrite cadence Iceberg's manifest merge applies.
  val SegmentPrefix = "_graft_segment_"
  private[sources] val MaxSegments = 32
  private def isSegmentRef(l: String): Boolean = l.startsWith("@")
  private def freshSegmentName(): String =
    s"$SegmentPrefix${UUID.randomUUID().toString.replace("-", "")}.txt"

  /** Raw entry lines of one immutable segment file, cached per driver. */
  private val segmentCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private def segmentLines(fs: FileSystem, dir: Path, name: String): Seq[String] = {
    val key = new Path(dir, name).toString
    val cached = segmentCache.get(key)
    if (cached != null) return cached
    val in = fs.open(new Path(dir, name))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val kept = lines.filter(_.nonEmpty)
    if (segmentCache.size > 4096) segmentCache.clear()
    segmentCache.put(key, kept)
    kept
  }

  /** Segment names referenced by version `v` (empty for inline manifests). */
  def segmentRefs(fs: FileSystem, dir: Path, v: Long,
                  branch: Option[String] = None): Seq[String] =
    snapshotAt(fs, dir, v, branch).segmentRefs

  /** Committed manifests are immutable (the exclusive create IS the
    * commit point), so their lines are cacheable per driver. The entry is
    * validated against the file's (mtime, length) from one getFileStatus,
    * so vacuum and rewrites invalidate naturally; a table dropped,
    * created or installed at a directory forgets that directory's entries
    * ([[forgetCachedLog]]), so a recreated log never matches a stale
    * (mtime, length). This bounds every timestamp surface
    * (commitTimeMillis, versionAtOrBefore, graft_history) and every
    * snapshot read (readFullEntries) at one manifest READ per version per
    * driver — repeat lookups cost a stat.
    */
  private case class CachedManifest(mtime: Long, len: Long, lines: Seq[String])
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedManifest]()

  /** Forget the cached manifests of every log under `dir` (branches
    * included). Called when a catalog verb ends or starts a table there;
    * a drop or create that bypasses this driver's catalog is still only
    * caught by the (mtime, length) check.
    */
  private[sources] def forgetCachedLog(dir: Path): Unit = {
    val prefix = dir.toUri.getPath.stripSuffix("/") + "/"
    manifestCache.keySet.removeIf(k => new Path(k).toUri.getPath.startsWith(prefix))
  }

  private def cachedManifest(p: Path, fs: FileSystem): CachedManifest = {
    val st = fs.getFileStatus(p)
    val key = p.toString
    val cached = manifestCache.get(key)
    if (cached != null && cached.mtime == st.getModificationTime &&
        cached.len == st.getLen) return cached
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val read = CachedManifest(st.getModificationTime, st.getLen, lines.filter(_.nonEmpty))
    if (manifestCache.size > 8192) manifestCache.clear()
    manifestCache.put(key, read)
    read
  }

  private def parseEntryLine(dir: Path, l: String): GraftEntry = {
    val parts = l.split("\t", -1)
    val dv = parts.lift(1).filter(_.nonEmpty)
      .map(d => new Path(dir, d).toString)
    val eqs = parts.lift(2).filter(_.nonEmpty).toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
      .map(e => new Path(dir, e).toString)
    GraftEntry(new Path(dir, parts(0)).toString, dv, eqs)
  }

  private def isMetaLine(l: String): Boolean = l.startsWith("!")

  /** One manifest of a log, read by ONE cached lookup (one stat, at most
    * one open): everything a commit or a history row needs derives from
    * its lines. `version` 0 is the empty log (no manifest yet).
    */
  final class Snapshot private[GraftTable] (fs: FileSystem, dir: Path,
                                            val version: Long,
                                            read: CachedManifest) {
    /** Entries (absolute paths). Entry line format:
      * `file[\tdv[\teq1,eq2,...]]` — the dv field may be empty when only
      * equality masks apply; `@segment` lines expand to the segment's
      * entries; `!key=value` lines are meta, not entries.
      */
    lazy val entries: Seq[GraftEntry] = read.lines.flatMap { l =>
      if (isMetaLine(l)) Nil
      else if (isSegmentRef(l))
        segmentLines(fs, dir, l.substring(1)).map(parseEntryLine(dir, _))
      else Seq(parseEntryLine(dir, l))
    }

    /** Commit metadata carried INSIDE the manifest's atomic unit (`!k=v`
      * lines): the streaming `txn:` markers, the `idwm:` watermarks, the
      * `!kind=` and `!ts=` stamps — each commits (or doesn't) atomically
      * WITH its files.
      */
    lazy val meta: Map[String, String] =
      read.lines.filter(isMetaLine).flatMap { l =>
        l.substring(1).split("=", 2) match {
          case Array(k, value) => Some(k -> value)
          case _ => None
        }
      }.toMap

    def segmentRefs: Seq[String] =
      read.lines.filter(isSegmentRef).map(_.substring(1))

    /** The `!ts=` stamp, else the manifest file's mtime (a manifest
      * written by hand or by a foreign tool).
      */
    def commitMillis: Long =
      meta.get(TsMetaKey).flatMap(_.toLongOption).getOrElse(read.mtime)
  }

  private def emptySnapshot(fs: FileSystem, dir: Path): Snapshot =
    new Snapshot(fs, dir, 0L, CachedManifest(0L, 0L, Nil))

  /** Version `v` of `branch` (main when None), one manifest lookup. */
  def snapshotAt(fs: FileSystem, dir: Path, v: Long,
                 branch: Option[String] = None): Snapshot =
    new Snapshot(fs, dir, v, cachedManifest(manifestPath(dir, v, branch), fs))

  /** Full manifest entries of version `v` (absolute paths). */
  def readFullEntries(fs: FileSystem, dir: Path, v: Long,
                      branch: Option[String] = None): Seq[GraftEntry] =
    snapshotAt(fs, dir, v, branch).entries

  /** Commit metadata of version `v` ([[Snapshot.meta]]). */
  def manifestMeta(fs: FileSystem, dir: Path, v: Long,
                   branch: Option[String] = None): Map[String, String] =
    snapshotAt(fs, dir, v, branch).meta

  def readManifest(fs: FileSystem, dir: Path, v: Long): Seq[String] =
    readEntries(fs, dir, v).map(_._1)

  private def entryLine(dir: Path, e: GraftEntry): String = {
    // entries are dir-relative (plain names for flat tables, col=value/
    // subpaths for partitioned ones); DV and equality sidecars live at
    // the root. Trailing empty fields are omitted, so tables without
    // masks keep the original 1/2-field line format byte-for-byte.
    val eqPart =
      if (e.eqs.isEmpty) ""
      else "\t" + e.eqs.map(x => relativize(dir, new Path(x))).sorted
        .mkString(",")
    val dvPart = e.dv.map(d => "\t" + relativize(dir, new Path(d)))
      .getOrElse(if (e.eqs.isEmpty) "" else "\t")
    relativize(dir, new Path(e.file)) + dvPart + eqPart
  }

  private def writeSegment(fs: FileSystem, dir: Path,
                           lines: Seq[String]): String = {
    val name = freshSegmentName()
    val out = fs.create(new Path(dir, name), false)
    try out.write(lines.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    segmentCache.put(new Path(dir, name).toString, lines.sorted)
    name
  }

  /** Exclusive create of manifest `v` over `prev`, the snapshot it builds
    * on (a branch's first commit builds on the main manifest it was forked
    * at, so txn carry and segment reuse chain across the fork point). A
    * concurrent committer racing to the same version fails LOUDLY here
    * instead of silently clobbering the snapshot. The atomic primitive is
    * store-dependent and PLUGGABLE ([[GraftCommitPrimitive]]): HDFS-like
    * `create(overwrite=false)`, POSIX hard-link on the local filesystem
    * (whose Hadoop `create` is check-then-open), or a conditional PUT on
    * rename-less object stores. [[commitRetrying]] is its only caller.
    */
  private def createManifest(fs: FileSystem, dir: Path, prev: Snapshot,
                             v: Long, entries: Seq[GraftEntry],
                             meta: Map[String, String],
                             branch: Option[String]): Unit = {
    // streaming transaction markers are DURABLE state: every commit
    // carries the previous manifest's `txn:` entries forward (newer value
    // wins), so the newest manifest always knows every query's last
    // committed epoch — vacuum can expire any prefix of the log without
    // opening a replay-duplication window
    val carried = prev.meta
      .filter(kv => kv._1.startsWith("txn:") || kv._1.startsWith("idwm:"))
    // commit wall-clock INSIDE the atomic unit, strictly monotonic per
    // table (same-ms successor bumps by 1): every timestamp surface
    // resolves at-or-before on it, so a commit's own committed_at always
    // resolves back to that commit. It never depends on file mtimes
    // (stores without setTimes, manifest-file copies — clone keeps
    // source history times, the snapshot-semantics answer)
    val tsStamp = math.max(System.currentTimeMillis(), prev.commitMillis + 1L)
    val allMeta = carried ++ meta + (TsMetaKey -> tsStamp.toString)
    val lines = entries.map(entryLine(dir, _))
    val lineSet = lines.toSet
    // reuse the previous version's segments whose entries ALL survive
    // verbatim (file + masks): the commit then writes only the residual
    val prevSegs: Seq[(String, Seq[String])] =
      prev.segmentRefs.map(n => n -> segmentLines(fs, dir, n))
    val covered = scala.collection.mutable.Set.empty[String]
    val reused = prevSegs.filter { case (_, segLines) =>
      val ok = segLines.nonEmpty && segLines.forall(l =>
        lineSet.contains(l) && !covered.contains(l))
      if (ok) covered ++= segLines
      ok
    }.map(_._1)
    val residual = lines.filterNot(covered.contains).distinct
    val refs =
      if (reused.size + (if (residual.nonEmpty) 1 else 0) > MaxSegments)
        Seq(writeSegment(fs, dir, lines.distinct)) // amortized compaction
      else if (residual.nonEmpty) reused :+ writeSegment(fs, dir, residual)
      else reused
    val metaLines = allMeta.toSeq.sorted.map { case (k, value) => s"!$k=$value" }
    val bytes = (metaLines ++ refs.sorted.map("@" + _))
      .mkString("\n").getBytes("UTF-8")
    // THE commit point: the store-appropriate atomic exclusive create
    // (see GraftCommitPrimitive — pluggable per store; conditional-PUT
    // shaped on rename-less object stores)
    GraftCommitPrimitive.forFs(fs).commit(fs, manifestPath(dir, v, branch), bytes)
  }

  /** Retries of [[commitRetrying]] after lost version races. */
  private[sources] val CommitRetries = 20

  /** THE commit protocol of a history-table log and the only path to a
    * manifest create. Every commit lands here: batch appends, overwrites
    * and copy-on-write replaces, streaming epochs, merge-on-read deltas,
    * equality upserts, WAP publishes and branch cherry-picks; CREATE's
    * empty v1 and a clone's v1; and the maintenance verbs — compaction
    * (flat, bucketed, days()), OPTIMIZE, time-layout migration, the
    * deletion-vector and equality-mask folds, restore and identity sync.
    *
    * One attempt reads the head ONCE ([[readHead]]: version, entries and
    * meta from one manifest lookup) and hands it to `next`, which
    * validates it and returns the entry list of version v+1, or throws
    * to refuse the commit. The exclusive create of manifest v+1
    * ([[GraftCommitPrimitive]]) carries `meta`, the head's `txn:`/`idwm:`
    * markers and a strictly monotonic `!ts=` stamp. A failed create
    * retries only when `manifestPath(v + 1)` now exists (a racer took the
    * version), at most [[CommitRetries]] times; any other IO failure is
    * rethrown at once.
    *
    * So `next` sees every head it may commit over. An additive `next`
    * (append, streaming epoch) rebases for free: additive commits
    * commute, so replaying it on the racer's snapshot is exactly the
    * serial outcome. A [[rebasing]] one (the copy-on-write replace and
    * every rewrite verb) refuses when a racer touched a file it
    * replaced. A [[singleShot]] one (INSERT OVERWRITE, a delta) refuses
    * any second head, a [[pinnedAt]] one (restore, identity sync, v1)
    * any head but the one it was derived from.
    *
    * Writers land their data files before the loop and write the files'
    * stats-log and bloom entries only AFTER the create succeeds; a refused
    * commit deletes the files it landed ([[GraftWriteJob.Landing]]). So no
    * log names a file that no manifest references. Returns the committed
    * version.
    */
  def commitRetrying(fs: FileSystem, dir: Path,
                     branch: Option[String] = None,
                     meta: Map[String, String] = Map.empty)(
      next: Snapshot => Seq[GraftEntry]): Long = {
    Option(commitHooks.remove(hookKey(dir))).foreach(_())
    var attempt = 0
    while (true) {
      val head = readHead(fs, dir, branch)
      val v = head.version + 1
      val entries = next(head)
      try {
        createManifest(fs, dir, head, v, entries, meta, branch)
        return v
      } catch {
        case _: java.io.IOException if attempt < CommitRetries &&
            fs.exists(manifestPath(dir, v, branch)) =>
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** TEST SEAM: one-shot hooks keyed by table directory. A hook runs at
    * the top of the next [[commitRetrying]] on its directory and is
    * dropped first, so the racing commit it lands takes the normal path
    * — the deterministic way for specs and driver-gate queries to race a
    * commit inside another's optimistic window. A commit to another
    * table never consumes it. Production never sets one.
    */
  private val commitHooks =
    new java.util.concurrent.ConcurrentHashMap[String, () => Unit]()

  private def hookKey(dir: Path): String = dir.toUri.getPath.stripSuffix("/")

  private[graft] def interposeOnce(dir: Path)(hook: => Unit): Unit =
    commitHooks.put(hookKey(dir), () => hook)

  /** Whether the [[interposeOnce]] hook on `dir` has not fired yet. */
  private[graft] def interposePending(dir: Path): Boolean =
    commitHooks.containsKey(hookKey(dir))

  private def raced(table: String, head: Snapshot): Nothing =
    throw new IllegalStateException(
      s"concurrent commit conflict on $table: a racing commit took " +
        s"version ${head.version} — re-run the statement against the " +
        "current snapshot")

  /** `next` for a commit derived from ONE snapshot that must not rebase
    * (INSERT OVERWRITE, a merge-on-read delta): a second head means a
    * racer took the version, and the commit refuses.
    */
  def singleShot(table: String)(
      next: Snapshot => Seq[GraftEntry]): Snapshot => Seq[GraftEntry] = {
    var seen = false
    head => {
      if (seen) raced(table, head)
      seen = true
      next(head)
    }
  }

  /** `next` for a commit derived from version `base` that must not rebase
    * (restore, identity sync, CREATE's and a clone's v1): any other head
    * refuses.
    */
  def pinnedAt(table: String, base: Long)(
      entries: => Seq[GraftEntry]): Snapshot => Seq[GraftEntry] =
    head => if (head.version != base) raced(table, head) else entries

  /** `next` of a WRITE-SERIALIZABLE rewrite (Delta's default isolation):
    * `replaced` are the base snapshot's entries of the files it rewrote,
    * `added` the entries it landed. A head that kept every replaced entry
    * VERBATIM (same file, DV and equality masks — a racing append, or a
    * rewrite of other files) is rebased over: `head − replaced ++ added`
    * is exactly the serial outcome, so a long rewrite racing a streaming
    * append commits instead of dying. A head where a racer rewrote,
    * removed or re-masked a replaced file refuses: committing would
    * resurrect its deletions or duplicate its rewrites. The copy-on-write
    * replace, the rewrite verbs and the mask folds all commit through it.
    */
  def rebasing(table: String, replaced: Seq[GraftEntry],
               added: Seq[GraftEntry]): Snapshot => Seq[GraftEntry] = {
    def name(e: GraftEntry) = new Path(e.file).getName
    val base = replaced.map(e => name(e) -> e).toMap
    head => {
      val headByName = head.entries.map(e => name(e) -> e).toMap
      base.foreach { case (n, e) =>
        if (!headByName.get(n).contains(e)) throw new IllegalStateException(
          s"concurrent update conflict on $table: data file $n was read " +
            "by this rewrite but a racing commit " +
            (if (headByName.contains(n)) "modified its delete state"
             else "rewrote or removed it") +
            " — committing would lose that update; re-run the statement " +
            "against the current snapshot")
      }
      head.entries.filterNot(e => base.contains(name(e))) ++ added
    }
  }

  /** Head of `branch` (main when None) by ONE manifest lookup; version 0
    * when the log is empty. A branch with no commits of its own reads the
    * MAIN manifest it was forked at; branch versions CONTINUE main's
    * numbering from there, so one monotone version axis spans the fork.
    */
  def readHead(fs: FileSystem, dir: Path, branch: Option[String]): Snapshot =
    manifestVersions(fs, dir, branch).lastOption match {
      case Some(v) => snapshotAt(fs, dir, v, branch)
      case None =>
        val base = branch.fold(0L)(b => GraftBranch.baseOf(fs, dir, b)
          .getOrElse(throw new IllegalArgumentException(
            s"no branch '$b' on table at $dir (have: " +
              s"${GraftBranch.readAll(fs, dir).keys.toSeq.sorted.mkString(", ")})")))
        if (base == 0L) emptySnapshot(fs, dir) else snapshotAt(fs, dir, base)
    }

  /** Current snapshot of `branch` as (version, entries) — [[readHead]]. */
  def headState(fs: FileSystem, dir: Path,
                branch: Option[String]): (Long, Seq[GraftEntry]) = {
    val head = readHead(fs, dir, branch)
    (head.version, head.entries)
  }

  // --- commit kinds ---
  // WHAT a commit was (append / replace / overwrite / delta / compact /
  // restore / eqdelta), recorded as `!kind=` meta INSIDE the manifest's
  // atomic create — the manifest is the whole commit, so no crash can
  // separate a commit from its kind. Pure observability plus one
  // load-bearing bit: `compact` marks a commit as a row-multiset-NEUTRAL
  // reorganization, which is what lets streaming readers skip it instead
  // of failing (append tail) or re-emitting the whole table (change
  // feed). A missing kind (the empty v1 manifest) resolves
  // conservatively (unknown ≠ compact).
  val KindAppend = "append"
  val KindReplace = "replace"
  val KindOverwrite = "overwrite"
  val KindDelta = "delta"
  val KindCompact = "compact"
  val KindRestore = "restore"
  val KindEqDelta = "eqdelta"

  /** `!kind=` manifest meta key. Not carried forward between commits
    * (the txn:/idwm: carry filter excludes it): each manifest states its
    * own kind or none.
    */
  val KindMetaKey = "kind"

  def kindMeta(kind: String): Map[String, String] = Map(KindMetaKey -> kind)

  /** The kind version `v` committed as, from its manifest meta. */
  def commitKind(fs: FileSystem, dir: Path, v: Long,
                 branch: Option[String] = None): Option[String] =
    manifestMeta(fs, dir, v, branch).get(KindMetaKey)
}

/** A loaded graft table. [[GraftTable.open]] builds it: the props file
  * is read ONCE per load and the schema file at most once, and every
  * layout field derives from that one props map, so the current,
  * time-travel, branch and changes loads of a table describe it
  * identically. Maintenance verbs take the loaded table instead of
  * re-reading either file.
  *
  * `history` is snapshot mode (opt-in via TBLPROPERTIES
  * ('history'='true')): commits never delete data files — each writes the
  * next manifest, whose exclusive create is the atomic commit point — so
  * `VERSION AS OF n` time travel works and concurrent committers fail
  * loudly instead of clobbering. Default tables keep eager-delete commits
  * and stay directly readable as a plain parquet directory (the interop
  * contract GraftCatalogSpec asserts); history tables trade that for
  * snapshots + `GraftMaintenance.vacuum`.
  *
  * `mor` is merge-on-read (TBLPROPERTIES ('merge-on-read'='true')):
  * row-level operations become DELTA-based ([[GraftDeltaOperation]],
  * Spark's `SupportsDelta`) — DELETE/UPDATE/MERGE write positional
  * deletion-vector sidecars (`_graft_dv_<file>.bin`, Roaring64) plus
  * appended files instead of rewriting affected files. At 100 TB this is
  * the difference between an 8 KB sidecar write and re-copying a 1 GB
  * file to delete 100 rows; the read path pays one bitmap probe per row
  * until `GraftMaintenance.materializeDeletes` folds the DVs in.
  * Trade-off: the directory is no longer directly readable as plain
  * parquet (deleted rows would resurface), and parquet record filters are
  * disabled on the reader (row positions must count every physical row)
  * — whole-file stats skipping still applies.
  *
  * @param props the table's properties as read at load
  * @param pinnedVersion a time-travel read pin; writes are rejected.
  * @param branch the named branch this load reads and writes
  */
class GraftTable private (ident: String, val dir: String,
                          readSchema: () => StructType,
                          val props: Map[String, String],
                          val pinnedVersion: Option[Long],
                          val branch: Option[String])
  extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsMetadataColumns {

  // read on first use: a verb that needs only the props (the history log,
  // a retention policy) never opens the schema file
  private lazy val tableSchema: StructType = readSchema()

  // the layout contract, each field derived from `props` on first use
  lazy val history: Boolean = props.get(GraftTable.HistoryProp).contains("true")
  lazy val mor: Boolean = props.get(GraftTable.MorProp).contains("true")
  lazy val partitionCols: Seq[String] = props.get(GraftTable.PartitionProp)
    .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
  lazy val bucketSpec: Option[(String, Int)] =
    for (c <- props.get(GraftTable.BucketColProp);
         n <- props.get(GraftTable.BucketCountProp)) yield (c, n.toInt)
  lazy val checks: Seq[(String, String)] = props.toSeq
    .filter(_._1.startsWith(GraftConstraints.Prefix))
    .map { case (k, v) => (k.stripPrefix(GraftConstraints.Prefix), v) }
    .sortBy(_._1)
  lazy val dayCol: Option[String] = props.get(GraftTable.DayColProp)
  lazy val timeUnit: String = props.getOrElse(GraftTable.TimeUnitProp, "days")
  lazy val aliases: Map[String, Seq[String]] = GraftEvolution.aliasesOf(props)
  lazy val widened: Set[String] = GraftEvolution.widenedOf(props)
  lazy val pastTimeSpecs: Seq[(String, String)] =
    GraftTable.decodePastTimeSpecs(props)
  lazy val identity: Option[GraftIdentity.Spec] = GraftIdentity.specOf(props)
  lazy val generated: Seq[(String, String)] = GraftGenerated.specsOf(props)
  lazy val sortCols: Seq[String] = GraftSort.sortColsOf(props)
  lazy val maskCols: Map[String, String] = GraftGovernance.masksOf(props)
  lazy val rowFilter: Option[String] = GraftGovernance.rowFilterOf(props)
  lazy val retention: Map[String, String] =
    props.filter { case (k, _) => GraftRetention.isRetentionProp(k) }
  lazy val rowLineage: Boolean = GraftRowId.enabled(props)
  lazy val requiredWriter: Int = GraftTable.requiredFormat(props, ident)._2
  /** Declared index-on-write columns (bloom, trigram), validated against
    * the physical schema.
    */
  lazy val indexOnWriteCols: (Seq[String], Seq[String]) =
    GraftBloom.indexOnWriteCols(props, physicalSchema)

  override def name(): String = ident
  override def schema(): StructType = tableSchema

  /** Table properties, surfaced so `DESCRIBE TABLE EXTENDED` (and any
    * catalog tooling) shows the layout contract: history/mor flags, time
    * transform, bucket spec, CHECK constraints, pinned version.
    */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    if (history) m.put(GraftTable.HistoryProp, "true")
    if (mor) m.put(GraftTable.MorProp, "true")
    if (rowLineage) m.put(GraftRowId.Prop, "true")
    if (partitionCols.nonEmpty)
      m.put(GraftTable.PartitionProp, partitionCols.mkString(","))
    bucketSpec.foreach { case (c, n) =>
      m.put(GraftTable.BucketColProp, c)
      m.put(GraftTable.BucketCountProp, n.toString)
    }
    dayCol.foreach { c =>
      m.put(GraftTable.DayColProp, c)
      m.put(GraftTable.TimeUnitProp, timeUnit)
    }
    checks.foreach { case (n, t) => m.put(s"${GraftConstraints.Prefix}$n", t) }
    if (pastTimeSpecs.nonEmpty)
      m.put(GraftTable.PastTimeSpecsProp,
        GraftTable.encodePastTimeSpecs(pastTimeSpecs))
    aliases.foreach { case (cur, olds) =>
      m.put(s"${GraftEvolution.AliasPrefix}$cur", GraftEvolution.encodeAliases(olds)) }
    pinnedVersion.foreach(v => m.put("pinned-version", v.toString))
    branch.foreach(b => m.put("branch", b))
    identity.foreach { sp =>
      m.put(GraftIdentity.ColProp, sp.col)
      m.put(GraftIdentity.StartProp, sp.start.toString)
      m.put(GraftIdentity.StepProp, sp.step.toString)
      m.put(GraftIdentity.ExplicitProp, sp.allowExplicit.toString)
    }
    generated.foreach { case (c, t) =>
      m.put(s"${GraftGenerated.Prefix}$c", t) }
    if (sortCols.nonEmpty)
      m.put(GraftSort.SortColsProp, sortCols.mkString(","))
    maskCols.foreach { case (c, p) =>
      m.put(s"${GraftGovernance.MaskPrefix}$c", p) }
    rowFilter.foreach(m.put(GraftGovernance.RowFilterProp, _))
    retention.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Identity partitioning (PARTITIONED BY): rows live under Hive-style
    * `col=value/` directories; partition values come from the PATH, never
    * the parquet bytes, so `spark.read.parquet(dir)` partition discovery
    * sees the identical table. Bucketing (`bucket(n, col)`): rows hash
    * into n stable buckets carried in the file NAME — the scan reports
    * `KeyGroupedPartitioning` over this transform, which is the
    * storage-partitioned-join contract.
    */
  override def partitioning(): Array[Transform] =
    partitionCols.map(Expressions.identity).toArray ++
      bucketSpec.map { case (c, n) => Expressions.bucket(n, c) } ++
      dayCol.map(c => timeUnit match {
        case "hours" => Expressions.hours(c)
        case "months" => Expressions.months(c)
        case _ => Expressions.days(c)
      })

  /** Columns physically stored in parquet = schema minus partition cols. */
  lazy val physicalSchema: StructType =
    StructType(tableSchema.fields.filterNot(f => partitionCols.contains(f.name)))

  /** The shape every data file holds: the physical columns plus, on a
    * row-lineage table, the hidden trailing `_row_id`.
    */
  def ioSchema: StructType =
    if (rowLineage) GraftRowId.ioSchema(physicalSchema) else physicalSchema

  /** Existence-default catalyst values (ADD COLUMN ... DEFAULT): what
    * pre-add files serve instead of NULL. Resolved once per table load.
    */
  lazy val existenceDefaults: Map[String, Any] =
    GraftEvolution.existenceDefaults(physicalSchema)
  def existenceDefaultCols: Set[String] = existenceDefaults.keySet

  /** Partition-column fields in declaration order. */
  def partitionFields: Seq[StructField] = partitionCols.map(tableSchema(_))
  override def capabilities(): util.Set[TableCapability] = {
    // AUTOMATIC_SCHEMA_EVOLUTION: MERGE WITH SCHEMA EVOLUTION may diff the
    // source schema against ours and route the additions through
    // alterTable — safe because ADD COLUMNS is an ordinary evolution
    // commit here (existing files read the new column back as NULL)
    val base: Set[TableCapability] =
      Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE,
        TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    // manifests are the commit log a streaming read resumes from AND the
    // atomic unit a streaming WRITE pins its exactly-once marker into;
    // plain tables have neither, so only history tables advertise both
    (if (history)
       base + TableCapability.MICRO_BATCH_READ + TableCapability.STREAMING_WRITE
     else base).asJava
  }

  /** The read snapshot: manifest-driven for history tables (pinned or
    * latest version), directory listing otherwise. Entries carry the
    * per-file deletion-vector sidecar of THAT snapshot (merge-on-read
    * history tables version their DVs in the manifest, so a pinned read
    * sees the delete state as of its version — time travel resurrects
    * deleted rows exactly).
    */
  private[sources] def currentEntries(fs: FileSystem): Seq[(String, Option[String])] =
    currentFullEntries(fs).map(e => e.file -> e.dv)

  private[sources] def currentFullEntries(fs: FileSystem): Seq[GraftTable.GraftEntry] = {
    val p = new Path(dir)
    if (!history)
      GraftTable.dataFiles(fs, p).map(GraftTable.GraftEntry(_, None))
    else if (branch.nonEmpty)
      GraftTable.headState(fs, p, branch)._2
    else {
      val v = pinnedVersion.getOrElse(
        GraftTable.manifestVersions(fs, p).lastOption.getOrElse(
          throw new IllegalStateException(s"history table $ident has no manifest")))
      GraftTable.readFullEntries(fs, p, v)
    }
  }

  private[sources] def currentDataFiles(fs: FileSystem): Seq[String] =
    currentEntries(fs).map(_._1)

  private def rejectPinnedWrite(): Unit =
    if (pinnedVersion.nonEmpty) throw new UnsupportedOperationException(
      s"cannot write to $ident pinned at VERSION AS OF ${pinnedVersion.get}")

  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = GraftTable.FileCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file path of the row (copy-on-write group id)"
    },
    new MetadataColumn {
      override def name(): String = GraftTable.PosCol
      override def dataType(): DataType = org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "row position within its data file (merge-on-read row id)"
    }) ++ (if (!rowLineage) Array.empty[MetadataColumn] else Array[MetadataColumn](
    new MetadataColumn {
      override def name(): String = GraftRowId.Col
      override def dataType(): DataType = org.apache.spark.sql.types.LongType
      // nullable: a COW MERGE's not-matched source rows carry NULL here
      // (that null is the "mint a fresh id" signal on the write side)
      override def isNullable: Boolean = true
      override def comment(): String =
        "stable row identifier (row lineage) — survives every rewrite of the row's bytes"
    }))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(this, None, GraftStreamLimits.from(options))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    rejectPinnedWrite()
    GraftTable.enforceWrite(requiredWriter, ident)
    new GraftWriteBuilder(this, info.schema(), truncate = false,
      queryId = info.queryId())
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    rejectPinnedWrite()
    GraftTable.enforceWrite(requiredWriter, ident)
    // a row-level rewrite reads raw bytes and re-persists what it read —
    // under a masked session it would corrupt or leak; admin bypass only
    GraftGovernance.refuseRawPath(this, s"${info.command()} (row-level rewrite)")
    if (mor) () => new GraftDeltaOperation(this, info.command())
    else () => new GraftRowLevelOperation(this, info.command())
  }
}

/** Group-based copy-on-write row-level operation. The SAME operation
  * instance backs the rewrite's scan and write, which is the channel that
  * carries "which files are affected" from read side to commit: Spark's
  * runtime group filtering calls `scan.filter(IN(_file, matching))` before
  * the replacement query plans its partitions, so at commit time the
  * scan's surviving file list IS the affected-group set to replace.
  */
class GraftRowLevelOperation(table: GraftTable,
                             cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  /** The scan of the ReplaceData plan (shared by the runtime-filter
    * subquery, which reads it pre-filter — correct: matches are sought in
    * all files). Set when the rewrite builds its scan.
    */
  @volatile private[sources] var configuredScan: Option[GraftScan] = None

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftRowLevelOperation[$cmd, copy-on-write]"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table, Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftReplaceDataWriteBuilder(table, info.schema(), this)

  /** Keep `_file` flowing through the rewritten plan so the runtime
    * group-filter subquery can project it — and on row-lineage tables
    * `_row_id` too, so a COW rewrite CARRIES every surviving row's id
    * (matched rows arrive with their id non-null; a MERGE's not-matched
    * inserts arrive NULL there, which is the writer's mint signal).
    */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftTable.FileCol)) ++
      (if (table.rowLineage) Array(Expressions.column(GraftRowId.Col))
       else Array.empty[NamedReference])
}

class GraftScanBuilder(table: GraftTable, op: Option[RowLevelOperation],
                       streamLimits: GraftStreamLimits = GraftStreamLimits.Unlimited)
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var required: StructType = table.schema()
  private var limitRows: Option[Int] = None
  private var topN: Option[(String, Boolean, Int)] = None // (col, asc, n)
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var partFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var dayFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var substr: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var aggPlanned: Option[GraftAggPushdown.Planned] = None
  // the COPY-ON-WRITE rewrite scan (ReplaceData); a merge-on-read delta
  // scan is row-level too but never rewrites whole groups
  private def cowRewrite = op.exists(_.isInstanceOf[GraftRowLevelOperation])

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** INEXACT parquet pushdown (the native source's contract): pushed
    * filters prune row groups by min/max stats in the reader, and every
    * filter is ALSO returned as residual so Spark re-evaluates exactly —
    * stats pruning is a superset filter, never the final answer.
    *
    * NEVER for a copy-on-write row-level scan: Spark pushes the command's
    * condition into the ReplaceData read, but a copy-on-write rewrite must
    * read EVERY row of an affected file (the carried-over rows are the
    * complement of the condition) — predicate pruning below group
    * granularity there silently deletes the carried-over rows (caught by
    * GraftCatalogSpec the moment pushdown landed; group pruning is the
    * runtime `_file` filter's job). A merge-on-read DELTA scan DOES push
    * (it only needs matching rows — pruned files simply contribute no row
    * ids), but GraftScan confines the pushed filters to whole-file
    * skipping there: record/row-group filters would break `_pos`.
    */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    // partition-column-only filters prune whole directories at planning —
    // safe for EVERY scan flavor, even the COW rewrite (a pruned-out
    // partition contains no matching rows, hence no affected groups)
    val (part, rest) = filters.partition(f =>
      f.references.nonEmpty && f.references.forall(table.partitionCols.contains))
    partFilters = part
    // hidden day partitioning: predicates on the RAW source column prune
    // whole day directories — safe for every scan flavor (same argument
    // as identity partition pruning: a pruned day holds no matching rows).
    // Partition evolution: PAST specs' columns prune their own files too
    val specCols = (table.dayCol.toSeq ++ table.pastTimeSpecs.map(_._1)).distinct
    if (specCols.nonEmpty) {
      dayFilters = rest.filter(f =>
        f.references.nonEmpty && f.references.forall(specCols.contains))
    }
    if (!cowRewrite) {
      // parquet-pushable filters are judged against the PHYSICAL schema:
      // partition columns have no parquet bytes, so a predicate naming one
      // must never reach the reader
      val phys = table.physicalSchema
      pushed = rest.filter(f =>
        f.references.forall(phys.fieldNames.contains) &&
          GraftParquetFilters.convertible(phys, f))
      // substring predicates (LIKE '%needle%' / prefix / suffix / string
      // equality) are NOT parquet-convertible but the per-file TRIGRAM
      // index can whole-file-prune on them — captured separately, applied
      // only at file granularity, always residual-exact
      substr = rest.filter {
        case org.apache.spark.sql.sources.StringContains(c, v) =>
          v != null && phys.fields.exists(f =>
            f.name == c && f.dataType == org.apache.spark.sql.types.StringType)
        case org.apache.spark.sql.sources.StringStartsWith(c, v) =>
          v != null && phys.fields.exists(f =>
            f.name == c && f.dataType == org.apache.spark.sql.types.StringType)
        case org.apache.spark.sql.sources.StringEndsWith(c, v) =>
          v != null && phys.fields.exists(f =>
            f.name == c && f.dataType == org.apache.spark.sql.types.StringType)
        case _ => false
      }
    }
    filters // all residual: row-group stats are approximate by design
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  /** LIMIT pushdown as a BOUNDED FILE PLAN: a bare `LIMIT n` scan of a
    * 10⁵-file table should plan O(1) files, not O(files). The plan keeps
    * a prefix of files whose stats-log row counts PROVABLY cover n
    * (files with a deletion vector / equality mask or without recorded
    * stats guarantee nothing — conservative, zero extra IO), and returns
    * `false` so Spark keeps its own Limit for exactness. Sound only for
    * a bare scan: any data/layout filter means the matching rows may all
    * live in the files a truncated plan would drop (Spark only pushes a
    * limit whose child is the relation, re-checked here defensively).
    */
  override def pushLimit(n: Int): Boolean = {
    if (op.isEmpty && pushed.isEmpty && substr.isEmpty &&
        partFilters.isEmpty && dayFilters.isEmpty && aggPlanned.isEmpty &&
        n > 0)
      limitRows = Some(n)
    false // partial: the scan serves AT LEAST n rows, Spark trims exactly
  }

  /** TOP-N pushdown as a BOUNDED FILE PLAN (the sort-on-write payoff):
    * `ORDER BY c LIMIT n` keeps only the files that can hold a top-n row,
    * judged from the stats log — on a range-clustered table that is the
    * range head/tail, O(n/rows-per-file) files instead of O(files). The
    * push is PARTIAL (Spark still sorts and limits above, so ties and
    * ordering stay exact); only the FIRST sort key prunes — later keys
    * break ties inside rows the first key already admitted. Accepted only
    * for a bare scan and the natural null placements (ASC NULLS FIRST /
    * DESC NULLS LAST — Spark's defaults); the plan-time algorithm in
    * [[GraftScan.planInputPartitions]] keeps every file that MIGHT hold a
    * candidate (stats-less, null-carrying under ASC, bound overlapping
    * the provable cutoff), so a non-clustered table degrades to the full
    * plan, never to a wrong answer.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    if (op.nonEmpty || pushed.nonEmpty || substr.nonEmpty ||
        partFilters.nonEmpty || dayFilters.nonEmpty || aggPlanned.nonEmpty ||
        orders.isEmpty || n <= 0) return false
    val o = orders.head
    val colName = o.expression() match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames().length == 1 => nr.fieldNames()(0)
      case _ => return false
    }
    val dt = table.physicalSchema.fields.find(_.name == colName)
      .map(_.dataType).getOrElse(return false)
    val asc = o.direction() == SortDirection.ASCENDING
    val naturalNulls =
      if (asc) o.nullOrdering() == NullOrdering.NULLS_FIRST
      else o.nullOrdering() == NullOrdering.NULLS_LAST
    if (!naturalNulls) return false
    // type must be bound-comparable (the tracked canonical kinds)
    val probe = dt match {
      case org.apache.spark.sql.types.StringType => "a"
      case org.apache.spark.sql.types.BooleanType => "true"
      case _ => "0"
    }
    if (GraftStats.cmpStored(dt, probe, probe).isEmpty) return false
    topN = Some((colName, asc, n))
    true // partial: Spark keeps its Sort + Limit above the reduced scan
  }

  override def isPartiallyPushed(): Boolean = true

  /** Global COUNT/MIN/MAX answered from the stats log (GraftAggPushdown):
    * COMPLETE pushdown — Spark consumes the one-row result directly, no
    * partial/final aggregation and no data-file tasks. Refused (ordinary
    * scan) whenever any soundness gate fails; Spark only attempts the
    * pushdown when no Filter survives below the Aggregate, re-checked
    * here defensively.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    tryPlanAgg(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    tryPlanAgg(agg)

  private def tryPlanAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (op.isDefined || pushed.nonEmpty || partFilters.nonEmpty ||
        dayFilters.nonEmpty) return false
    if (aggPlanned.isEmpty)
      aggPlanned = GraftAggPushdown.plan(SparkSession.active, table, agg)
    aggPlanned.nonEmpty
  }

  override def build(): Scan = {
    aggPlanned.foreach(p => return new GraftAggScan(table.name(), p))
    val scan = new GraftScan(table, required, op.isDefined, pushed, partFilters,
      dayFilters, streamLimits, substr, limitRows, topN)
    op.foreach {
      // first-built scan wins: the rewrite builds the ReplaceData read
      // before the optimizer derives the filter subquery from the same
      // relation (same Scan instance, fresh expr ids)
      case o: GraftRowLevelOperation =>
        if (o.configuredScan.isEmpty) o.configuredScan = Some(scan)
      case _ => // delta (merge-on-read) ops carry no group state
    }
    scan
  }
}

/** Spark `sources.Filter` → parquet `FilterPredicate` conversion for the
  * graft reader, through Spark's own `ParquetFilters` against the SAME
  * message type the writer produced — so stats pruning sees exactly the
  * physical types it wrote.
  */
object GraftParquetFilters {
  import org.apache.parquet.schema.MessageType
  import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, SparkToParquetSchemaConverter}
  import org.apache.spark.sql.internal.LegacyBehaviorPolicy

  private def messageType(schema: StructType): MessageType =
    new SparkToParquetSchemaConverter(
      ParquetRowIO.writeConf(new org.apache.hadoop.conf.Configuration(false), schema))
      .convert(schema)

  private def filters(schema: StructType): ParquetFilters =
    new ParquetFilters(messageType(schema),
      true, true, true, true, 10, false,
      RebaseSpec(LegacyBehaviorPolicy.CORRECTED))

  def convertible(schema: StructType, f: org.apache.spark.sql.sources.Filter): Boolean =
    filters(schema).createFilter(f).isDefined

  def predicate(schema: StructType,
                fs: Seq[org.apache.spark.sql.sources.Filter])
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    val conv = filters(schema)
    fs.flatMap(conv.createFilter(_)).reduceOption(
      org.apache.parquet.filter2.predicate.FilterApi.and)
  }

  /** True iff any row group of `path` survives stats filtering under
    * `pred` — opening the reader with a record filter makes parquet apply
    * its row-group stats/dictionary pruning in the constructor, so an
    * all-pruned file reports zero row groups without reading data pages.
    */
  /** Planning-side footer opens, observable so specs (and the oracle
    * queries) can PROVE a scan planned purely from manifest-lifted stats
    * — the counter not moving is the "no O(files) driver IO" claim.
    */
  val footerProbes = new java.util.concurrent.atomic.AtomicLong(0L)

  def fileMayMatch(path: Path,
                   conf: org.apache.hadoop.conf.Configuration,
                   pred: org.apache.parquet.filter2.predicate.FilterPredicate): Boolean = {
    footerProbes.incrementAndGet()
    val opts = org.apache.parquet.HadoopReadOptions.builder(conf, path)
      .withRecordFilter(org.apache.parquet.filter2.compat.FilterCompat.get(pred))
      .build()
    try {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf), opts)
      try !r.getRowGroups.isEmpty finally r.close()
    } catch {
      // a file whose physical types diverge from the expected message type
      // (e.g. INT96 timestamps written by a foreign tool) cannot be
      // stats-judged — keep it; the residual filter stays exact
      case _: IllegalArgumentException => true
    }
  }
}

/** Partition-directory pruning: evaluates partition-column filters against
  * a file's path-derived partition values, THREE-VALUED (None = unknown) so
  * `Not` composes soundly — a null partition value makes any comparison
  * unknown, exactly SQL's semantics, and unknown never prunes.
  */
object GraftPartitionPruning {
  import org.apache.spark.sql.sources._

  private def norm(a: Any): Any = a match {
    case n: Number => n.longValue()
    case other => other
  }

  private def cmp(a: Any, b: Any): Option[Int] = (norm(a), norm(b)) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: String, y: String) => Some(x.compareTo(y))
    case _ => None
  }

  private def eq(a: Any, b: Any): Option[Boolean] = (norm(a), norm(b)) match {
    case (x: Boolean, y: Boolean) => Some(x == y)
    case (x, y) => cmp(x, y).map(_ == 0)
  }

  /** Some(true/false) when decidable from partition values alone. */
  def eval(f: Filter, vals: Map[String, Any]): Option[Boolean] = f match {
    case EqualTo(c, v) if vals.contains(c) =>
      if (vals(c) == null || v == null) None else eq(vals(c), v)
    case EqualNullSafe(c, v) if vals.contains(c) =>
      if (vals(c) == null || v == null) Some(vals(c) == null && v == null)
      else eq(vals(c), v)
    case In(c, vs) if vals.contains(c) =>
      if (vals(c) == null) None
      else {
        val hits = vs.toSeq.map(v => if (v == null) None else eq(vals(c), v))
        if (hits.contains(Some(true))) Some(true)
        else if (hits.forall(_ == Some(false))) Some(false)
        else None
      }
    case IsNull(c) if vals.contains(c) => Some(vals(c) == null)
    case IsNotNull(c) if vals.contains(c) => Some(vals(c) != null)
    case GreaterThan(c, v) if vals.contains(c) =>
      if (vals(c) == null || v == null) None else cmp(vals(c), v).map(_ > 0)
    case GreaterThanOrEqual(c, v) if vals.contains(c) =>
      if (vals(c) == null || v == null) None else cmp(vals(c), v).map(_ >= 0)
    case LessThan(c, v) if vals.contains(c) =>
      if (vals(c) == null || v == null) None else cmp(vals(c), v).map(_ < 0)
    case LessThanOrEqual(c, v) if vals.contains(c) =>
      if (vals(c) == null || v == null) None else cmp(vals(c), v).map(_ <= 0)
    case And(l, r) => (eval(l, vals), eval(r, vals)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    case Or(l, r) => (eval(l, vals), eval(r, vals)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
    case Not(inner) => eval(inner, vals).map(!_)
    case _ => None
  }

  /** A file survives unless some filter is decidably false. */
  def survives(filters: Seq[Filter], vals: Map[String, Any]): Boolean =
    filters.forall(f => eval(f, vals).getOrElse(true))

  /** External-typed (String/Long/Boolean/null) partition values of a file,
    * for pruning comparisons against `sources.Filter` literals.
    */
  def externalValues(tableDir: String, file: String,
                     partFields: Seq[StructField]): Map[String, Any] = {
    val internal = GraftTable.parsePartValues(tableDir, file, partFields)
    partFields.zip(internal).map { case (f, v) =>
      f.name -> (v match {
        case u: UTF8String => u.toString
        case other => other
      })
    }.toMap
  }
}

/** One partition per data file (the file is the copy-on-write group; at
  * 100 TB the managed files are write-sized ~128 MB so file==split is the
  * right granularity — a compaction pass owns the file-size invariant).
  * `dv` is the file's deletion-vector sidecar, if any (merge-on-read).
  */
sealed trait GraftPartition extends InputPartition {
  def file: String
  def dv: Option[String]
  def eqs: Seq[String]
}

case class GraftFilePartition(file: String, dv: Option[String] = None,
                              eqs: Seq[String] = Nil)
  extends GraftPartition

/** A bucketed table's file split: carries its bucket id as the partition
  * KEY, which is what lets `BatchScanExec` group splits per bucket and
  * report catalyst `KeyGroupedPartitioning` — the join side of the
  * storage-partitioned-join handshake.
  */
case class GraftBucketedFilePartition(file: String, bucketId: Int,
                                      dv: Option[String] = None,
                                      eqs: Seq[String] = Nil)
  extends GraftPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

class GraftScan(table: GraftTable, required: StructType, rowLevel: Boolean,
                pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
                partFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
                dayFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
                streamLimits: GraftStreamLimits = GraftStreamLimits.Unlimited,
                substrFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
                limitRows: Option[Int] = None,
                topN: Option[(String, Boolean, Int)] = None)
  extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** The scanned table / row-level flag, exposed for the MV rewrite rule
    * (graft.plans.MatView): the rule must identify which base table an
    * Aggregate reads, and must never rewrite a row-level (COW/delta) scan.
    */
  private[graft] def graftTable: GraftTable = table
  private[graft] def isRowLevelScan: Boolean = rowLevel

  // resolved once at scan creation: the snapshot the whole operation
  // (both the filter subquery and the replacement read) sees, and the
  // base set runtime filtering prunes toward the affected groups
  private val allEntries: Seq[GraftTable.GraftEntry] = {
    val p = new Path(table.dir)
    table.currentFullEntries(p.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf()))
  }
  private val allFiles: Seq[String] = allEntries.map(_.file)
  @volatile private var files: Seq[String] = allFiles

  /** Scan-time snapshot entries keyed by file NAME — the read set a
    * row-level commit validates against the head snapshot (see
    * [[GraftTable.rebasing]]): an affected
    * file whose head entry differs from this one (rewritten, masked by a
    * new DV, or gone) was concurrently modified, and committing the
    * rewrite would lose that update.
    */
  private[sources] lazy val snapshotEntryByName: Map[String, GraftTable.GraftEntry] =
    allEntries.map(e => (new Path(e.file).getName, e)).toMap

  /** Manifest-lifted stats of the snapshot's files, read once per scan (a
    * handful of sequential metadata-log reads — never per data file);
    * entries of files outside the snapshot are skipped undecoded.
    */
  private[sources] lazy val statsByName: Map[String, GraftStats.FileStats] = {
    val p = new Path(table.dir)
    GraftFileLog.stats(
      p.getFileSystem(SparkSession.active.sessionState.newHadoopConf()), p,
      snapshotEntryByName.contains)
  }

  /** Per-file bloom index (point-lookup pruning) of the snapshot's files,
    * read once per scan; entries of other files are skipped undecoded.
    */
  private lazy val bloomIndex: Map[(String, String), Array[Byte]] = {
    val p = new Path(table.dir)
    GraftFileLog.blooms(
      p.getFileSystem(SparkSession.active.sessionState.newHadoopConf()), p,
      snapshotEntryByName.contains)
  }

  /** Surviving (affected) files after runtime group filtering. */
  private[sources] def currentFiles: Seq[String] = files

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(table.history,
      s"streaming read of ${table.name()}: only history tables have a commit log")
    require(table.branch.isEmpty,
      s"streaming read of ${table.name()}: branch heads are not tailable " +
        "(they rename wholesale into main at fast-forward); tail the " +
        "table and read the branch in batch")
    new GraftMicroBatchStream(table, required,
      new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()),
      streamLimits)
  }
  override def description(): String =
    s"graft ${table.name()} cols=${required.fieldNames.mkString(",")}" +
      (if (pushedFilters.nonEmpty)
        s" PushedFilters: [${pushedFilters.mkString(", ")}]" else "") +
      (if (substrFilters.nonEmpty)
        s" SubstringFilters: [${substrFilters.mkString(", ")}]" else "") +
      (if (rowLevel) " (row-level)" else "")

  override def filterAttributes(): Array[NamedReference] =
    if (rowLevel) Array(Expressions.column(GraftTable.FileCol)) else Array.empty

  /** Runtime group filtering: keep only files named by IN/= predicates on
    * `_file`. Unrecognized predicates are ignored — a superset of affected
    * groups is always safe (rows are rewritten verbatim), it just prunes
    * less.
    */
  override def filter(predicates: Array[Predicate]): Unit = {
    val keep = predicates.flatMap(fileSet)
    if (keep.nonEmpty) {
      val allowed = keep.flatten.toSet
      files = files.filter(allowed.contains)
    }
  }

  private def isFileRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case r: NamedReference => r.fieldNames().sameElements(Array(GraftTable.FileCol))
      case _ => false
    }

  private def litString(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case l: Literal[_] if l.dataType() == StringType && l.value() != null =>
        Some(l.value().toString)
      case _ => None
    }

  private def fileSet(p: Predicate): Option[Seq[String]] = p.name() match {
    case "IN" if p.children().nonEmpty && isFileRef(p.children()(0)) =>
      Some(p.children().drop(1).toSeq.flatMap(litString))
    case "=" if p.children().length == 2 && isFileRef(p.children()(0)) =>
      Some(litString(p.children()(1)).toSeq)
    case "=" if p.children().length == 2 && isFileRef(p.children()(1)) =>
      Some(litString(p.children()(0)).toSeq)
    case _ => None
  }

  /** File-size statistics (metadata-only, like parquet's), so Catalyst
    * auto-broadcasts small graft tables in joins — without this a DSv2
    * scan defaults to `defaultSizeInBytes` (huge) and a dim-sized catalog
    * table shuffles where it should ship. Reflects runtime group
    * filtering: a pruned row-level scan reports only surviving files.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    // manifest-lifted sizes (and row counts, when every file has them)
    // first; per-file getFileStatus only for unrecorded files. MOR masks
    // are honored so heavy delete churn does not overreport to the
    // planner: DV cardinalities are subtracted (one bitmap read per
    // masked file — metadata-sized), while equality masks make the row
    // count UNKNOWN (counting them would mean probing key sets).
    val stats = statsByName
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val live = files.toSet
    val entries = allEntries.filter(e => live.contains(e.file))
    val anyEqMask = entries.exists(_.eqs.nonEmpty)
    val perFile = entries.map { e =>
      val deleted = e.dv.map { d =>
        val p = new Path(d)
        GraftDv.read(p.getFileSystem(conf), p).getLongCardinality
      }.getOrElse(0L)
      stats.get(new Path(e.file).getName) match {
        case Some(st) => (st.size, Some(st.rows - deleted))
        case None =>
          val p = new Path(e.file)
          (p.getFileSystem(conf).getFileStatus(p).getLen, None)
      }
    }
    val bytes = perFile.map(_._1).sum
    val rows =
      if (perFile.nonEmpty && perFile.forall(_._2.isDefined) && !anyEqMask)
        java.util.OptionalLong.of(perFile.flatMap(_._2).sum)
      else java.util.OptionalLong.empty()
    // COLUMN statistics for the cost-based optimizer, straight from the
    // manifest stats log (an ANALYZE TABLE nobody has to run): per-column
    // distinct counts are the UNION of the per-file HLL sketches the
    // writer tracked in its hot loop, null counts are exact sums — served
    // when EVERY live file carries stats. Row-level masks (DV/equality
    // deletes) remove rows the sketches still remember, so under ANY
    // mask the union is served as a declared OVER-approximation (round
    // 12): an NDV that only over-counts is sound for selectivity and
    // broadcast decisions (it under-estimates per-value match counts,
    // never fabricates rows), and refusing — the pre-round-12 behavior —
    // stripped planner cardinalities from every actively-upserted table
    // until a fold. Null counts are NOT servable under masks (a masked
    // row may have been one of the nulls; an over-counted nullCount
    // would make IsNotNull selectivity fabricate row reductions), so
    // they stay exact-or-absent.
    val anyMask = anyEqMask || entries.exists(_.dv.nonEmpty)
    val colStats: java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      val fileStats = entries.flatMap(e => stats.get(new Path(e.file).getName))
      if (entries.nonEmpty && fileStats.size == entries.size) {
        table.physicalSchema.fields.foreach { f =>
          val distinct = GraftStats.mergedDistinct(fileStats, f.name)
          val nullsKnown = !anyMask && fileStats.forall(
            _.cols.get(f.name).exists(_.nulls >= 0))
          // RANGE selectivity (round 13): an equi-height histogram cut
          // from the merged per-file KLL quantile sketches (boundaries at
          // i/B ranks, bin NDV = distinct/B under the equi-height
          // assumption) — Catalyst's FilterEstimation then costs
          // BETWEEN / > / < predicates from metadata alone. Served under
          // row-level masks on the same over-approximation argument as
          // NDV: masked rows shift the SHAPE slightly but fabricate no
          // selectivity class.
          val histo: Option[org.apache.spark.sql.connector.read.colstats.Histogram] =
            distinct.filter(_ > 0).flatMap(d =>
              GraftStats.mergedKll(fileStats, f.name)
                .filterNot(_.isEmpty).map { sk =>
                  val nBins = 32
                  import org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE
                  val bounds = (0 to nBins).map(i =>
                    sk.getQuantile(i.toDouble / nBins, INCLUSIVE)).toArray
                  val perBinNdv = math.max(1L, d / nBins)
                  val binArr = (0 until nBins).map { i =>
                    new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                      override def lo(): Double = bounds(i)
                      override def hi(): Double = bounds(i + 1)
                      override def ndv(): Long = perBinNdv
                    }
                  }.toArray
                  new org.apache.spark.sql.connector.read.colstats.Histogram {
                    override def height(): Double = sk.getN.toDouble / nBins
                    override def bins(): Array[
                      org.apache.spark.sql.connector.read.colstats.HistogramBin] = binArr
                  }
                })
          if (distinct.nonEmpty || nullsKnown) {
            val nulls =
              if (nullsKnown) java.util.OptionalLong.of(
                fileStats.flatMap(_.cols.get(f.name)).map(_.nulls).sum)
              else java.util.OptionalLong.empty()
            m.put(Expressions.column(f.name),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  distinct.map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
                override def nullCount(): java.util.OptionalLong = nulls
                override def histogram(): java.util.Optional[
                    org.apache.spark.sql.connector.read.colstats.Histogram] =
                  histo.map(java.util.Optional.of(_))
                    .getOrElse(java.util.Optional.empty())
              })
          }
        }
      }
      m
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rows
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  /** Whole-FILE stats skipping before any task launches: with pushed
    * filters, each candidate file's footer is tested and files where
    * every row group is stats-pruned never become partitions — on a
    * range-clustered table (compactTable sortCols / Z-order) a selective
    * predicate plans a handful of tasks instead of |files|. The footer
    * read is driver-side O(files) metadata; at 100 TB a table format
    * lifts these stats into the manifest (Iceberg's per-file min/max) to
    * make this a pure metadata-log operation — same pruning decision,
    * amortized IO. Never applied to row-level scans (pushdown is disabled
    * there: pruning the ReplaceData read would DELETE carried-over rows).
    */
  override def planInputPartitions(): Array[InputPartition] = {
    // partition-directory pruning first (pure path metadata, zero IO):
    // safe for every scan flavor — a pruned partition holds no matching
    // rows, hence no affected groups and no row ids
    val partKept0 =
      if (partFilters.isEmpty || table.partitionCols.isEmpty) files
      else {
        val pf = table.partitionFields
        files.filter(f => GraftPartitionPruning.survives(partFilters.toSeq,
          GraftPartitionPruning.externalValues(table.dir, f, pf)))
      }
    // hidden day-partition pruning: interval logic over the raw column's
    // per-directory bounds (pure path metadata, zero IO). With partition
    // EVOLUTION each file resolves against its own spec (current first,
    // then past, newest-first); segment-less files are never pruned
    val timeSpecs: Seq[(String, String, org.apache.spark.sql.types.DataType)] =
      (table.dayCol.map(_ -> table.timeUnit).toSeq ++ table.pastTimeSpecs)
        .flatMap { case (c, u) =>
          table.schema().fields.find(_.name == c).map(f => (c, u, f.dataType)) }
    val partKept =
      if (dayFilters.isEmpty || timeSpecs.isEmpty) partKept0
      else partKept0.filter(f => GraftDayPartition.survivesSpecs(
        dayFilters.toSeq, table.dir, f, timeSpecs))
    // whole-file stats skipping is safe for EVERY scan flavor except the
    // COW rewrite read (where carried-over rows live in "non-matching"
    // files' complement — there pushdown is off entirely): a merge-on-read
    // delta scan pruned of a file just yields no row ids from it, and
    // deletion vectors only ever REMOVE rows, so a stats-pruned file stays
    // prunable
    val cowRewrite = rowLevel && !table.mor
    // BUCKET pruning (round 13 — pure file-NAME metadata, zero IO): an
    // equality / IN predicate on the bucket key admits only the buckets
    // its literals hash to, so a point lookup on a bucket(n) table plans
    // ~1/n of the files BEFORE any stats or footer probe — the bucket
    // analog of partition-directory pruning, same soundness class (the
    // pruned file's name claims a bucket the key provably doesn't hash
    // to; NULL literals never equality-match, and `IN` lists intersect
    // conjunctively — an all-NULL IN matches nothing and prunes
    // everything). Files without a bucket claim are never pruned, and
    // the COW-rewrite scan pushes no filters, so carried rows are safe.
    val bucketTargets: Option[Set[Int]] = table.bucketSpec.flatMap {
      case (c, n) =>
        val dt = table.physicalSchema.fields.find(_.name == c).get.dataType
        def idOf(v: Any): Int = v match {
          case s: String => GraftBucket.bucket(dt, UTF8String.fromString(s), n)
          case other => GraftBucket.bucket(dt, other, n)
        }
        val sets = pushedFilters.toSeq.collect {
          case org.apache.spark.sql.sources.EqualTo(`c`, v) if v != null =>
            Set(idOf(v))
          case org.apache.spark.sql.sources.EqualNullSafe(`c`, v) if v != null =>
            Set(idOf(v))
          case org.apache.spark.sql.sources.In(`c`, vs) =>
            vs.toSeq.filter(_ != null).map(idOf).toSet
        }
        if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
    }
    val kept =
      if (cowRewrite || (pushedFilters.isEmpty && substrFilters.isEmpty))
        partKept
      else {
        val bucketKept = bucketTargets match {
          case Some(t) => partKept.filter(f =>
            GraftBucket.fileBucketId(new Path(f).getName).forall(t.contains))
          case None => partKept
        }
        // manifest-lifted stats first: a file with recorded stats is
        // judged from metadata alone (canDrop is provably sound, and DVs
        // only remove rows); ONLY files without stats fall back to a
        // footer probe — at 100 TB the planning cost is the stats log,
        // not O(files) footer opens. Substring-only scans (LIKE '%..%' is
        // not parquet-convertible) skip straight to the index probes.
        val statsKept = if (pushedFilters.isEmpty) bucketKept else {
          val stats = statsByName
          val (judged, unjudged) = bucketKept.partition(f =>
            stats.contains(new Path(f).getName))
          val keptJudged = judged.filterNot(f => GraftStats.canDrop(
            pushedFilters.toSeq, table.physicalSchema,
            stats(new Path(f).getName)))
          // footer probes and in-file record filters must not see filters
          // on RENAMEd columns: parquet treats the (new-named, hence
          // missing) column as all-null and would wrongly drop matching
          // row groups of pre-rename files — the stats/bloom logs above
          // are re-keyed at rename time, so metadata pruning still covers
          // those filters
          val keptUnjudged =
            if (unjudged.isEmpty) unjudged
            else GraftParquetFilters.predicate(table.physicalSchema,
              GraftEvolution.parquetSafe(pushedFilters.toSeq, table.aliases,
                table.widened, table.existenceDefaultCols)) match {
              case None => unjudged
              case Some(pred) =>
                val conf = SparkSession.active.sessionState.newHadoopConf()
                unjudged.filter(f =>
                  GraftParquetFilters.fileMayMatch(new Path(f), conf, pred))
            }
          keptJudged ++ keptUnjudged
        }
        // per-file BLOOM index (point predicates on non-clustered keys —
        // ranges overlap every file, min/max can't help; the bloom's
        // no-false-negative guarantee makes the drop provably sound, and
        // files without an entry are never pruned) + per-file TRIGRAM
        // index (substring predicates: one definitely-absent 3-gram of
        // the literal proves no row matches). Filters touching
        // existence-default columns are withheld: the indexes are built
        // from the raw file bytes (pre-add files read back NULL, not the
        // default the scan will serve), so for those columns
        // "definitely absent" is a lie — same exclusion parquetSafe
        // applies to footer probes.
        val bloomSafeFilters = (pushedFilters ++ substrFilters).toSeq.filter(
          _.references.forall(r => !table.existenceDefaultCols.contains(r)))
        val bloomKept =
          if (bloomSafeFilters.isEmpty || bloomIndex.isEmpty) statsKept
          else {
            val cache = scala.collection.mutable.Map
              .empty[(String, String), org.apache.spark.util.sketch.BloomFilter]
            statsKept.filterNot(f => GraftBloom.canDrop(bloomSafeFilters,
              table.physicalSchema, bloomIndex, cache, new Path(f).getName))
          }
        // preserve the deterministic file order (bucket/day grouping
        // downstream is order-insensitive, but stable plans beat racy ones)
        val keep = bloomKept.toSet
        bucketKept.filter(keep.contains)
      }
    // deletion-vector sidecars: history tables carry the mapping in the
    // manifest (versioned per snapshot — the scan's entries already
    // reflect any pinned version); plain MOR tables key sidecars by
    // data-file name from one directory listing
    val dvByName: Map[String, String] =
      if (!table.mor) Map.empty
      else if (table.history)
        allEntries.collect { case GraftTable.GraftEntry(f, Some(d), _) =>
          new Path(f).getName -> d }.toMap
      else {
        val p = new Path(table.dir)
        val fs = p.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
        fs.listStatus(p).toSeq
          .filter(st => st.isFile && GraftDv.isDv(st.getPath.getName))
          .map(st => GraftDv.dataFileName(st.getPath.getName) -> st.getPath.toString)
          .toMap
      }
    // equality masks are versioned manifest annotations (history tables)
    val eqByName: Map[String, Seq[String]] =
      allEntries.collect { case e if e.eqs.nonEmpty =>
        new Path(e.file).getName -> e.eqs }.toMap
    // pushed TOP-N: keep only the files that can hold a top-n row.
    // Provable cutoff: walk files by their leading-key bound (min under
    // ASC, max under DESC), accumulate GUARANTEED rows (masked/stats-less
    // files guarantee nothing; DESC subtracts nulls — they sort last)
    // until n is covered; the prefix's far bound is the cutoff, and the
    // kept set is every file whose near bound reaches it, plus every
    // file that might hold candidates invisibly (no stats / no bounds /
    // nulls under ASC — nulls sort first). If coverage is unprovable,
    // everything is planned; Spark's Sort+Limit above stays exact.
    val topNKept = topN match {
      case Some((c, asc, n)) if !rowLevel =>
        val stats = statsByName
        val dt = table.physicalSchema.fields.find(_.name == c).map(_.dataType)
        def boundsOf(f: String): Option[GraftStats.ColStats] =
          stats.get(new Path(f).getName).flatMap(_.cols.get(c))
        def masked(f: String): Boolean = {
          val name = new Path(f).getName
          dvByName.contains(name) || eqByName.contains(name)
        }
        val (judgeable, mustKeep) = dt match {
          case None => (Nil, kept) // renamed/partition column: keep all
          case Some(_) => kept.partition { f =>
            boundsOf(f).exists(cs => cs.min.nonEmpty && cs.max.nonEmpty &&
              // ASC: null rows sort FIRST — a file with (or with unknown)
              // nulls always holds candidates
              (!asc || cs.nulls == 0))
          }
        }
        if (judgeable.isEmpty) kept
        else {
          val d = dt.get
          def near(cs: GraftStats.ColStats) = if (asc) cs.min.get else cs.max.get
          def far(cs: GraftStats.ColStats) = if (asc) cs.max.get else cs.min.get
          def lte(a: String, b: String): Boolean =
            GraftStats.cmpStored(d, a, b).exists(v => if (asc) v <= 0 else v >= 0)
          val inOrder = judgeable.sortWith((a, b) =>
            GraftStats.cmpStored(d, near(boundsOf(a).get), near(boundsOf(b).get))
              .exists(v => if (asc) v < 0 else v > 0))
          var acc = mustKeep.map { f =>
            if (masked(f)) 0L
            else stats.get(new Path(f).getName).map { st =>
              val nulls = st.cols.get(c).map(_.nulls).getOrElse(-1L)
              if (asc) st.rows
              else if (nulls >= 0) st.rows - nulls else 0L
            }.getOrElse(0L)
          }.sum
          var cut: Option[String] = None
          val it = inOrder.iterator
          while (cut.isEmpty && it.hasNext) {
            val f = it.next()
            val cs = boundsOf(f).get
            if (!masked(f)) {
              val rows = stats(new Path(f).getName).rows
              acc += (if (asc) rows
                      else if (cs.nulls >= 0) rows - cs.nulls else 0L)
            }
            if (acc >= n) cut = Some(far(cs))
          }
          cut match {
            case None => kept // coverage unprovable: plan everything
            case Some(cv) =>
              val keepSet = (mustKeep ++
                judgeable.filter(f => lte(near(boundsOf(f).get), cv))).toSet
              kept.filter(keepSet.contains)
          }
        }
      case _ => kept
    }
    // pushed LIMIT: keep a prefix of files whose stats-log row counts
    // PROVABLY cover it (masked / stats-less files guarantee nothing);
    // if the whole table cannot prove coverage, plan everything — Spark's
    // Limit above trims exactly either way
    val limited = limitRows match {
      case Some(n) if !rowLevel =>
        val stats = statsByName
        var acc = 0L
        val prefix = topNKept.takeWhile { f =>
          val take = acc < n
          if (take) {
            val name = new Path(f).getName
            if (!dvByName.contains(name) && !eqByName.contains(name))
              acc += stats.get(name).map(_.rows).getOrElse(0L)
          }
          take
        }
        if (acc >= n) prefix else topNKept
      case _ => topNKept
    }
    limited.map { f =>
      val name = new Path(f).getName
      table.bucketSpec match {
        case Some(_) =>
          val b = GraftBucket.fileBucketId(name).getOrElse(
            throw new IllegalStateException(
              s"bucketed table ${table.name()}: data file $name lacks the " +
                "bNNNNN- bucket prefix — write through the catalog, not " +
                "directly into the directory"))
          GraftBucketedFilePartition(f, b, dvByName.get(name),
            eqByName.getOrElse(name, Nil))
        case None => GraftFilePartition(f, dvByName.get(name),
          eqByName.getOrElse(name, Nil))
      }
    }.toArray
  }

  /** Bucketed tables report `KeyGroupedPartitioning` over the table's
    * bucket transform; with `spark.sql.sources.v2.bucketing.enabled` Spark
    * groups the splits per bucket id and two co-bucketed scans join with
    * ZERO Exchange (storage-partitioned join) — at 100 TB this deletes the
    * dominant shuffle of every fact-fact equi-join on the bucket key. The
    * transform's function resolves through [[GraftCatalog.loadFunction]];
    * partition-value alignment across sides is Spark's pushPartValues
    * machinery (missing buckets become empty partitions).
    */
  override def outputPartitioning(): Partitioning = table.bucketSpec match {
    case Some((c, n)) =>
      new KeyGroupedPartitioning(Array(Expressions.bucket(n, c)), files.size)
    case None => new UnknownPartitioning(0)
  }

  /** When every bucket holds exactly ONE file, rows arrive key-sorted
    * (the write path always sorts within bucket files; per-bucket
    * compaction preserves it) — reporting that ordering lets a
    * storage-partitioned merge join skip its Sort nodes entirely. With
    * multiple files per bucket the grouped partition is a concatenation,
    * so no ordering is claimed (compaction restores it).
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    table.bucketSpec match {
      case Some((c, _)) =>
        val ids = files.map(f => GraftBucket.fileBucketId(new Path(f).getName))
        if (ids.nonEmpty && ids.forall(_.isDefined) &&
            ids.flatten.distinct.size == ids.size)
          Array(Expressions.sort(Expressions.column(c),
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
        else Array.empty
      case None => Array.empty
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    // parquet record filters skip rows (and row groups) inside the file,
    // which would desynchronize `_pos` from physical row position — so any
    // scan that must see true positions (merge-on-read tables, or an
    // explicit `_pos` projection) reads files in full; whole-file skipping
    // above still applies
    val readerFilters =
      if (table.mor || required.fieldNames.contains(GraftTable.PosCol))
        Array.empty[org.apache.spark.sql.sources.Filter]
      else pushedFilters
    new GraftReaderFactory(required, table.physicalSchema, table.dir,
      table.partitionFields,
      GraftEvolution.parquetSafe(readerFilters.toSeq, table.aliases,
        table.widened, table.existenceDefaultCols).toArray,
      new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()),
      table.aliases, table.existenceDefaults)
  }
}

class GraftReaderFactory(required: StructType, physicalSchema: StructType,
                         tableDir: String, partFields: Seq[StructField],
                         pushedFilters: Array[org.apache.spark.sql.sources.Filter],
                         conf: SerializableHadoopConf,
                         aliases: Map[String, Seq[String]] = Map.empty,
                         existDefaults: Map[String, Any] = Map.empty)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftPartition]
    new GraftPartitionReader(required, physicalSchema, tableDir, partFields,
      pushedFilters, p.file, p.dv, conf, skipEqs = p.eqs, aliases = aliases,
      existDefaults = existDefaults)
  }
}

/** Reads one parquet file, emitting `required`-shaped rows; the `_file` /
  * `_pos` metadata columns and any PARTITION columns (any position) are
  * synthesized from the partition path and the physical row position,
  * every other column comes column-pruned from parquet. Rows whose
  * position is in the partition's deletion vector are skipped
  * (merge-on-read); position counting assumes an unfiltered sequential
  * read — the scan never hands this reader a record filter when a DV or a
  * `_pos` projection is in play.
  */
class GraftPartitionReader(required: StructType, physicalSchema: StructType,
                           tableDir: String, partFields: Seq[StructField],
                           pushedFilters: Array[org.apache.spark.sql.sources.Filter],
                           file: String, dv: Option[String],
                           conf: SerializableHadoopConf,
                           keepOnly: Option[org.roaringbitmap.longlong.Roaring64Bitmap] = None,
                           skipEqs: Seq[String] = Nil,
                           matchEqs: Seq[String] = Nil,
                           aliases: Map[String, Seq[String]] = Map.empty,
                           existDefaults: Map[String, Any] = Map.empty)
  extends PartitionReader[InternalRow] {

  private val partNames = partFields.map(_.name)
  private val dataSchema = StructType(required.fields.filter(f =>
    f.name != GraftTable.FileCol && f.name != GraftTable.PosCol &&
      !partNames.contains(f.name)))
  // equality masks (per-executor cached key sets): the key columns must
  // be READ even when the query prunes them — they ride the read schema
  // as trailing fields and are never emitted. Sidecar key names resolve
  // through the alias chains (an upsert's sidecar may predate a RENAME)
  // and values are read at current width — keySet returns CURRENT names.
  private val skipEqSets: Seq[(Array[String], Set[Vector[Any]])] =
    skipEqs.map(GraftEqDelete.keySet(_, physicalSchema, aliases, conf.value))
  private val matchEqSets: Seq[(Array[String], Set[Vector[Any]])] =
    matchEqs.map(GraftEqDelete.keySet(_, physicalSchema, aliases, conf.value))
  private val extraKeyFields: Array[StructField] =
    (skipEqSets ++ matchEqSets).flatMap(_._1).distinct
      .filterNot(n => dataSchema.fieldNames.contains(n))
      .map(n => physicalSchema(physicalSchema.fieldIndex(n))).toArray
  private val readDataSchema = StructType(dataSchema.fields ++ extraKeyFields)
  private def probesOf(sets: Seq[(Array[String], Set[Vector[Any]])]) =
    sets.map { case (cols, set) =>
      val idx = cols.map(readDataSchema.fieldIndex)
      val dts: Array[org.apache.spark.sql.types.DataType] =
        idx.map(i => readDataSchema.fields(i).dataType)
      (idx, dts, set)
    }
  private val skipProbes = probesOf(skipEqSets)
  private val matchProbes = probesOf(matchEqSets)
  private def eqMasked(r: InternalRow): Boolean =
    skipProbes.exists { case (idx, dts, set) =>
      set.contains(GraftEqDelete.keyVector(r, idx, dts, copy = false)) } ||
    (matchProbes.nonEmpty && !matchProbes.exists { case (idx, dts, set) =>
      set.contains(GraftEqDelete.keyVector(r, idx, dts, copy = false)) })
  // columns ADDed with a DEFAULT: the ReadSupport reports which requested
  // fields this FILE lacks under every name; those positions get the
  // frozen existence default instead of the converter's NULL-fill
  private val missingRef =
    if (existDefaults.isEmpty) null
    else new java.util.concurrent.atomic.AtomicReference[Set[String]](Set.empty)
  private val reader =
    ParquetRowIO.reader(new Path(file), conf.readConf(readDataSchema),
      GraftParquetFilters.predicate(physicalSchema,
        GraftEvolution.parquetSafe(pushedFilters.toSeq, aliases,
          defaulted = existDefaults.keySet)),
      aliases, missingRef)
  private val filePath = UTF8String.fromString(file)
  private val partValues: Array[Any] =
    if (partFields.isEmpty) Array.empty
    else GraftTable.parsePartValues(tableDir, file, partFields)
  private val deleted: org.roaringbitmap.longlong.Roaring64Bitmap =
    dv.map { d =>
      val p = new Path(d)
      GraftDv.read(p.getFileSystem(conf.value), p)
    }.orNull
  // required-field → parquet index, or -1 = _file, -2 = _pos,
  // -(3+k) = partition column k
  private val plan: Array[Int] = {
    var di = -1
    required.fields.map { f =>
      if (f.name == GraftTable.FileCol) -1
      else if (f.name == GraftTable.PosCol) -2
      else if (partNames.contains(f.name)) -(3 + partNames.indexOf(f.name))
      else { di += 1; di }
    }
  }
  // trailing eq-key columns in the read row force a projection even when
  // the required fields line up 1:1
  private val needsProject = plan.exists(_ < 0) || extraKeyFields.nonEmpty
  private var pos: Long = -1L
  private var row: InternalRow = _

  private val keep: org.roaringbitmap.longlong.Roaring64Bitmap = keepOnly.orNull
  private val hasEq = skipProbes.nonEmpty || matchProbes.nonEmpty

  // (required idx, default value) for columns this file lacks; known only
  // after the reader opened the footer (first read call), hence lazy
  private var defaultFill: Array[(Int, Any)] = _
  private var mustProject: Boolean = needsProject
  private def resolveDefaults(): Unit = {
    if (defaultFill != null) return
    val missing = if (missingRef == null) Set.empty[String] else missingRef.get
    defaultFill = required.fields.zipWithIndex.collect {
      case (f, i) if plan(i) >= 0 && missing.contains(f.name) &&
        existDefaults.contains(f.name) => (i, existDefaults(f.name))
    }
    if (defaultFill.nonEmpty) mustProject = true
  }

  override def next(): Boolean = {
    var r = reader.read()
    pos += 1
    resolveDefaults()
    while (r != null && ((deleted != null && deleted.contains(pos)) ||
        (keep != null && !keep.contains(pos)) ||
        (hasEq && eqMasked(r)))) {
      r = reader.read()
      pos += 1
    }
    if (r == null) return false
    row = if (!mustProject) r else {
      val out = new GenericInternalRow(plan.length)
      var i = 0
      while (i < plan.length) {
        if (plan(i) == -1) out.update(i, filePath)
        else if (plan(i) == -2) out.update(i, pos)
        else if (plan(i) <= -3) {
          val v = partValues(-plan(i) - 3)
          if (v == null) out.setNullAt(i) else out.update(i, v)
        }
        else if (r.isNullAt(plan(i))) out.setNullAt(i)
        else out.update(i, r.get(plan(i), dataSchema.fields(plan(i)).dataType))
        i += 1
      }
      var d = 0
      while (d < defaultFill.length) {
        out.update(defaultFill(d)._1, defaultFill(d)._2)
        d += 1
      }
      out
    }
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}

// --- write path ---

/** Per-task write result: staged file paths plus each file's encoded
  * [[GraftStats.FileStats]] line suffix (keyed by staged path) — stats are
  * tracked in the writer's hot loop and ride the commit message, so the
  * driver can lift them into the stats log without touching any file.
  */
case class GraftCommit(files: Seq[String],
                       stats: Map[String, GraftStats.FileStats] = Map.empty,
                       idLast: Option[Long] = None,
                       indexes: Seq[(String, String, Array[Byte])] = Nil,
                       rowLast: Option[Long] = None)
  extends WriterCommitMessage

/** Clustered-by-partition write distribution: each partition value lands
  * in one task, so a task opens ONE file per partition it owns instead of
  * every task opening every partition's file — at 100 TB the difference
  * between |partitions| and |tasks|·|partitions| output files. Best-effort
  * (not strictly required): writers handle any row mix correctly, the
  * clustering is a small-file/memory optimization.
  */
private[sources] trait GraftWriteDistribution
  extends RequiresDistributionAndOrdering {
  def table: GraftTable
  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    if (table.partitionCols.nonEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        table.partitionCols.map(c =>
          Expressions.column(c): org.apache.spark.sql.connector.expressions.Expression).toArray)
    else table.bucketSpec match {
      // cluster incoming rows by bucket id (the transform resolves through
      // the catalog's bucket function), so a task owns whole buckets and
      // writes ONE file per bucket instead of |tasks|·|buckets| files
      case Some((c, n)) =>
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          Array(Expressions.bucket(n, c):
            org.apache.spark.sql.connector.expressions.Expression))
      case None => table.dayCol match {
        // hidden time partitioning: cluster by the transform so a task
        // owns whole units — one file per unit per write, not per task
        case Some(c) =>
          val t = table.timeUnit match {
            case "hours" => Expressions.hours(c)
            case "months" => Expressions.months(c)
            case _ => Expressions.days(c)
          }
          org.apache.spark.sql.connector.distributions.Distributions.clustered(
            Array(t: org.apache.spark.sql.connector.expressions.Expression))
        case None =>
          // declared sort-on-write, no other layout: request a RANGE
          // shuffle (Distributions.ordered) so files carry DISJOINT
          // sort-key ranges — min/max skipping prunes a range predicate
          // to O(matching) files from the very first commit (GraftSort)
          if (table.sortCols.nonEmpty)
            org.apache.spark.sql.connector.distributions.Distributions
              .ordered(GraftSort.orders(table.sortCols))
          else
            org.apache.spark.sql.connector.distributions.Distributions.unspecified()
      }
    }
  override def distributionStrictlyRequired(): Boolean = false
  /** Layout (partition/bucket/time-unit) writes pin the clustered
    * exchange at the session shuffle width instead of letting AQE's
    * byte-based coalescing collapse it: a coalesced single task opens and
    * writes EVERY partition unit's file serially (measured ~1 s per small
    * partitioned append — file opens, not bytes), while a fixed width
    * opens them in parallel and each unit still lands in exactly one task
    * (hash clustering), so the one-file-per-unit layout is unchanged.
    * Scale-adaptive: the width is the session's shuffle parallelism, not
    * a constant. Flat tables keep the unspecified default (0 = let Spark
    * pick), so plain appends stay exchange-free.
    */
  override def requiredNumPartitions(): Int =
    if (table.partitionCols.nonEmpty || table.bucketSpec.nonEmpty ||
        table.dayCol.nonEmpty)
      org.apache.spark.sql.internal.SQLConf.get.numShufflePartitions
    else 0
  /** Bucketed tables additionally SORT within each written file by the
    * bucket key (ordering, unlike distribution, is always enforced by
    * Spark) — so a one-file-per-bucket scan can report its ordering and a
    * storage-partitioned join drops the Sort nodes too. Declared
    * sort-on-write columns APPEND to the required ordering, so layout
    * tables (partition/bucket/time) still land sorted files within each
    * unit a task owns.
    */
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    (table.bucketSpec match {
      case Some((c, _)) => Array(Expressions.sort(Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      case None => Array.empty[org.apache.spark.sql.connector.expressions.SortOrder]
    }) ++ GraftSort.orders(
      table.sortCols.filterNot(c => table.bucketSpec.exists(_._1 == c)))
}

/** Append / truncate-overwrite write: tasks stage parquet files under
  * `.staging-<uuid>/` (partitioned tables: under `col=value/` subdirs),
  * the driver commit renames them into the table dir (+ deletes the
  * previous files when truncating).
  */
class GraftWriteBuilder(table: GraftTable, writeSchema: StructType,
                        truncate: Boolean, queryId: String = "")
  extends WriteBuilder with SupportsTruncate {

  override def truncate(): WriteBuilder =
    new GraftWriteBuilder(table, writeSchema, truncate = true, queryId)

  override def build(): Write = {
    val t = table
    new Write with GraftWriteDistribution {
      override def table: GraftTable = t
      override def toBatch: BatchWrite =
        new GraftBatchWrite(t, writeSchema, truncateAll = truncate)
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        require(t.history,
          s"streaming write to ${t.name()}: only history tables have the " +
            "commit log the exactly-once transaction marker lives in — " +
            "create with TBLPROPERTIES('history'='true')")
        require(!truncate,
          s"streaming write to ${t.name()}: append output mode only " +
            "(Complete mode would truncate the whole table every batch)")
        require(t.branch.isEmpty,
          s"streaming write to ${t.name()}: branches are batch write " +
            "heads — point the stream at the table and stage via " +
            "foreachBatch if a branch epoch is needed")
        // identity tables stream natively: micro-batch epochs are serial,
        // and each epoch's writer factory re-reads the watermark exactly
        // like a batch append (see GraftStreamingWrite.alloc)
        new GraftStreamingWrite(t, writeSchema, queryId)
      }
    }
  }
}

/** NATIVE streaming sink (`df.writeStream.toTable("graft.db.t")`):
  * micro-batch epochs become ordinary append commits, made EXACTLY-ONCE
  * by a transaction marker (`!txn:<queryId>=<epoch>`) written INSIDE the
  * manifest's atomic create — the files and the marker commit as one
  * unit, so there is no two-file race window, and a replayed epoch (the
  * checkpoint recovery path) is recognized and skipped with its staged
  * files discarded. This is Delta's `txn` action / the idempotent-sink
  * contract, on the graft manifest log. Epoch tasks write through the
  * SAME writer as batch appends: layout routing (identity/bucket/days),
  * CHECK enforcement, and hot-loop stats tracking all apply per batch.
  */
class GraftStreamingWrite(table: GraftTable, writeSchema: StructType,
                          queryId: String)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  require(queryId != null && queryId.nonEmpty,
    s"streaming write to ${table.name()}: no query id — the exactly-once " +
      "marker is keyed by it")

  private val stagingDir =
    new Path(table.dir, s".staging-stream-${UUID.randomUUID()}")
  private def hadoopConf = SparkSession.active.sessionState.newHadoopConf()
  private def txnKey = s"txn:$queryId"

  /** Identity/row-id allocation of the CURRENT epoch. Micro-batch
    * execution calls createStreamingWriterFactory once per epoch, and
    * epochs of one query are serial — so each epoch plans against the
    * head watermark exactly like a batch append. Streamed appends are
    * plain inserts: every row mints a fresh row id.
    */
  @volatile private var alloc: Option[GraftWriteJob.Allocation] = None

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val conf = hadoopConf
    val fs = stagingDir.getFileSystem(conf)
    fs.mkdirs(stagingDir)
    val a = new GraftWriteJob.Allocation(table, fs, writeSchema,
      info.numPartitions, ids = true, rows = true)
    alloc = Some(a)
    val inner = GraftWriteJob.writerFactory(table, writeSchema, stagingDir,
      conf, a, rewrite = false)
    (partitionId: Int, taskId: Long, epochId: Long) =>
      inner.createWriter(partitionId, taskId)
  }

  /** Latest epoch this query ever committed, from the manifest log
    * (newest-first scan, cached after the first lookup — metadata-only).
    */
  private var knownEpoch: Option[Long] = None
  private def lastCommittedEpoch(fs: FileSystem, dir: Path): Option[Long] = {
    if (knownEpoch.isEmpty)
      knownEpoch = GraftTable.manifestVersions(fs, dir).reverseIterator
        .flatMap(v => GraftTable.manifestMeta(fs, dir, v).get(txnKey))
        .toSeq.headOption.map(_.toLong)
    knownEpoch
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val fs = stagingDir.getFileSystem(hadoopConf)
    val dir = new Path(table.dir)
    val commits = GraftWriteJob.commits(messages)
    if (lastCommittedEpoch(fs, dir).exists(_ >= epochId)) {
      // checkpoint-recovery replay of an epoch that already committed:
      // drop the restaged bytes, change nothing — exactly-once
      commits.flatMap(_.files).foreach(f => fs.delete(new Path(f), false))
      return
    }
    val landing = GraftWriteJob.landing(fs, dir, stagingDir, commits)
    val published = alloc.fold(Map.empty[String, String])(
      _.published(commits.flatMap(_.idLast), commits.flatMap(_.rowLast)))
    // an additive commit with the txn marker in the SAME atomic manifest.
    // Each head it may commit over is re-checked for the marker, not the
    // cached knownEpoch: after a failover a zombie driver of the same
    // query can race the replacement, and a head already carrying an
    // equal-or-newer epoch for this query means the batch landed — the
    // duplicate unlands and nothing changes (exactly-once)
    try landing.commit(None, Map(txnKey -> epochId.toString) ++ published ++
        GraftTable.kindMeta(GraftTable.KindAppend)) { head =>
      if (head.meta.get(txnKey).exists(_.toLong >= epochId))
        throw GraftStreamingWrite.EpochLanded
      alloc.foreach(_.check(head, published))
      head.entries ++ landing.entries
    } catch { case GraftStreamingWrite.EpochLanded => }
    knownEpoch = Some(epochId)
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val fs = stagingDir.getFileSystem(hadoopConf)
    messages.filter(_ != null).flatMap { case g: GraftCommit => g.files }
      .foreach(f => fs.delete(new Path(f), false))
  }
}

object GraftStreamingWrite {
  /** An epoch's commit found its own marker in the head: already landed. */
  private object EpochLanded extends scala.util.control.ControlThrowable
}

/** ReplaceData write for the row-level operation: commit swaps exactly the
  * affected files (the operation scan's post-runtime-filter list) for the
  * staged replacements.
  */
class GraftReplaceDataWriteBuilder(table: GraftTable, writeSchema: StructType,
                                   op: GraftRowLevelOperation)
  extends WriteBuilder {
  override def build(): Write = {
    val t = table
    new Write with GraftWriteDistribution {
      override def table: GraftTable = t
      override def toBatch: BatchWrite = {
        val scan = op.configuredScan.getOrElse(throw new IllegalStateException(
          "row-level write built before its scan — no affected groups known"))
        new GraftBatchWrite(t, writeSchema, truncateAll = false,
          replaceScan = Some(scan))
      }
    }
  }
}

object GraftBatchWrite {
  /** Version of the most recent HISTORY-table manifest commit THIS
    * thread's batch write landed (V2 command commits execute on the
    * caller's thread): a verb that just issued `writeTo(...).overwrite`
    * stamps metadata with ITS OWN commit instead of re-listing a head a
    * concurrent writer may have moved past it — the graft_ann_optimize
    * baseline-stamp race. -1 = no batch commit on this thread yet.
    */
  val lastCommittedVersion: ThreadLocal[Long] =
    new ThreadLocal[Long] { override def initialValue(): Long = -1L }
}

class GraftBatchWrite(table: GraftTable, writeSchema: StructType,
                      truncateAll: Boolean,
                      replaceScan: Option[GraftScan] = None) extends BatchWrite {

  private val stagingDir = new Path(table.dir, s".staging-${UUID.randomUUID()}")
  private def hadoopConf = SparkSession.active.sessionState.newHadoopConf()

  /** Identity/row-id allocation the job's tasks drew on — commit
    * re-checks it against every head it may commit over.
    */
  @volatile private var alloc: Option[GraftWriteJob.Allocation] = None

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val conf = hadoopConf
    val fs = stagingDir.getFileSystem(conf)
    fs.mkdirs(stagingDir)
    // identity: appends and INSERT OVERWRITE generate, row-level REWRITES
    // carry existing values verbatim. Row lineage: every flavor may mint —
    // appends for every row, COW replaces only for merge-inserted rows
    // (carried rows arrive with a non-null `_row_id`)
    val a = new GraftWriteJob.Allocation(table, fs, writeSchema,
      info.numPartitions, ids = replaceScan.isEmpty, rows = true)
    alloc = Some(a)
    GraftWriteJob.writerFactory(table, writeSchema, stagingDir, conf, a,
      rewrite = replaceScan.nonEmpty)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = stagingDir.getFileSystem(hadoopConf)
    val dir = new Path(table.dir)
    val commits = GraftWriteJob.commits(messages)
    if (table.history) {
      // snapshot commit: staged files land, NOTHING is deleted, and the
      // manifest create is the commit point ([[GraftTable.commitRetrying]]).
      // Branch writes are the SAME commits in the branch's manifest
      // namespace: isolation from main comes from the namespace alone
      val landing = GraftWriteJob.landing(fs, dir, stagingDir, commits)
      val published = alloc.fold(Map.empty[String, String])(
        _.published(commits.flatMap(_.idLast), commits.flatMap(_.rowLast)))
      def checked(head: GraftTable.Snapshot): Unit =
        alloc.foreach(_.check(head, published))
      def commitAs(kind: String)(
          next: GraftTable.Snapshot => Seq[GraftTable.GraftEntry]): Long =
        landing.commit(table.branch, published ++ GraftTable.kindMeta(kind))(next)
      val cv =
        if (!truncateAll && replaceScan.isEmpty)
          // additive: rebases over any racer that left the watermarks alone
          commitAs(GraftTable.KindAppend) { head =>
            checked(head)
            head.entries ++ landing.entries
          }
        else replaceScan match {
          // INSERT OVERWRITE carries no read set: any race refuses
          case None =>
            commitAs(GraftTable.KindOverwrite)(GraftTable.singleShot(table.name()) {
              head => checked(head); landing.entries
            })
          // WRITE-SERIALIZABLE REPLACE (row-level COW): the rewrite's file
          // list was derived from the SCAN-time snapshot; surviving files
          // keep their DV/equality masks, replaced ones drop (their rows
          // were read mask-filtered and rewritten)
          case Some(scan) =>
            val rebase = GraftTable.rebasing(table.name(),
              scan.currentFiles.map(f =>
                scan.snapshotEntryByName(new Path(f).getName)),
              landing.entries)
            commitAs(GraftTable.KindReplace) { head =>
              val entries = rebase(head)
              checked(head)
              entries
            }
        }
      GraftBatchWrite.lastCommittedVersion.set(cv)
    } else {
      // eager commit: delete-then-rename — replaced groups (row-level) or
      // everything (truncate) leave before the replacements land, and the
      // directory stays directly readable as plain parquet
      if (truncateAll) {
        GraftTable.dataFiles(fs, dir).foreach(f => fs.delete(new Path(f), false))
        // truncate also clears merge-on-read deletion vectors: a sidecar
        // surviving its data file is an orphan at best, a stale delete at
        // worst (a future file reusing the name would lose rows)
        fs.listStatus(dir).toSeq
          .filter(st => st.isFile && GraftDv.isDv(st.getPath.getName))
          .foreach(st => fs.delete(st.getPath, false))
        // and empties out partition directories (a col=value dir with no
        // files is dead weight; the overwrite recreates what it writes)
        fs.listStatus(dir).toSeq
          .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .foreach(st => fs.delete(st.getPath, true))
      }
      val replaced = replaceScan.map(_.currentFiles.map { f =>
        fs.delete(new Path(f), false); new Path(f).getName
      }.toSet)
      val landing = GraftWriteJob.landing(fs, dir, stagingDir, commits)
      landing.publish()
      // destroyed files take their statistics with them (min/max hold
      // real data values — a purge/overwrite must not leave them behind)
      if (truncateAll) {
        val live = landing.landed.map(f => new Path(f).getName).toSet
        GraftFileLog.retain(fs, dir, live.contains)
      } else replaced.filter(_.nonEmpty).foreach { gone =>
        GraftFileLog.retain(fs, dir, n => !gone.contains(n))
      }
    }
    fs.delete(stagingDir, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = stagingDir.getFileSystem(hadoopConf)
    fs.delete(stagingDir, true)
  }
}

class GraftWriterFactory(stagingDir: String, physicalSchema: StructType,
                         writeSchema: StructType, proj: Array[Int],
                         partFields: Seq[StructField], partIdx: Array[Int],
                         conf: SerializableHadoopConf,
                         bucket: Option[(Int, DataType, Int)] = None,
                         violations: Seq[(String, Expression)] = Nil,
                         day: Option[(Int, DataType, String, String)] = None,
                         idGen: Option[GraftIdentity.WriteGen] = None,
                         genProjs: Seq[(String, Int, Expression, DataType)] = Nil,
                         genStrict: Boolean = true,
                         indexCols: (Seq[String], Seq[String]) = (Nil, Nil),
                         rowGen: Option[GraftIdentity.WriteGen] = None,
                         metaRowIdIdx: Int = -1)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(stagingDir, physicalSchema, writeSchema, proj,
      partFields, partIdx, partitionId, taskId, conf, bucket, violations, day,
      idGen.map(GraftIdentity.taskGen(_, partitionId)), genProjs, genStrict,
      indexCols, rowGen.map(GraftIdentity.taskGen(_, partitionId)),
      metaRowIdIdx)
}

/** Writes one parquet part file per non-empty task (lazily created — empty
  * partitions leave nothing to commit, so a delete-everything ReplaceData
  * stages zero files). Partitioned tables route each row to a per-
  * partition-value writer under a `col=value/` staging subdir; under the
  * clustered write distribution a task normally owns whole partition
  * values, so the writer map stays small.
  */
class GraftDataWriter(stagingDir: String, physicalSchema: StructType,
                      writeSchema: StructType, proj: Array[Int],
                      partFields: Seq[StructField], partIdx: Array[Int],
                      partitionId: Int, taskId: Long,
                      conf: SerializableHadoopConf,
                      bucket: Option[(Int, DataType, Int)] = None,
                      violations: Seq[(String, Expression)] = Nil,
                      day: Option[(Int, DataType, String, String)] = None,
                      idGen: Option[GraftIdentity.TaskGen] = None,
                      genProjs: Seq[(String, Int, Expression, DataType)] = Nil,
                      genStrict: Boolean = true,
                      indexCols: (Seq[String], Seq[String]) = (Nil, Nil),
                      rowGen: Option[GraftIdentity.TaskGen] = None,
                      metaRowIdIdx: Int = -1)
  extends DataWriter[InternalRow] {

  /** COW ReplaceData delivers CARRIED rows through the two-arg overload
    * (the row's metadata attributes ride the first argument); the default
    * implementation DROPS the metadata row, which on a lineage table
    * would silently re-mint every rewritten row's id. Pin the carried
    * `_row_id` for this one write. Merge-inserted rows arrive through the
    * one-arg overload (no metadata) and mint normally.
    */
  override def write(meta: InternalRow, record: InternalRow): Unit =
    if (metaRowIdIdx >= 0 && meta != null && !meta.isNullAt(metaRowIdIdx)) {
      rowCarry = Some(meta.getLong(metaRowIdIdx))
      try write(record) finally rowCarry = None
    } else write(record)

  /** REWRITE carriers (COW replace, MOR reinsert) arrive with the STALE
    * derivation in the generated position — recompute silently; only
    * USER-facing insert paths enforce explicit-value equality.
    */
  private[sources] var genCheck: Boolean = genStrict

  /** MOR reinsert carrier: an update-reinserted row keeps its EXISTING
    * identity value verbatim (a surrogate key must survive its row's
    * update) — neither allocated nor refused as explicit.
    */
  private[sources] var idCarry: Boolean = false

  // GENERATED columns: computed for every row BEFORE checks and routing
  // (so CHECKs see computed values and a generated column can be a
  // partition column); an explicit incoming value must EQUAL the
  // computed one. One codegen'd projection evaluates all of them.
  private val genProjection =
    if (genProjs.isEmpty) null
    else org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(genProjs.map(_._3))
  private val genPatched = new GenericInternalRow(writeSchema.length)

  private def withGenerated(record: InternalRow): InternalRow = {
    if (genProjection == null) return record
    val gen = genProjection(record)
    var i = 0
    while (i < writeSchema.length) {
      if (record.isNullAt(i)) genPatched.setNullAt(i)
      else genPatched.update(i, record.get(i, writeSchema.fields(i).dataType))
      i += 1
    }
    var k = 0
    while (k < genProjs.length) {
      val (col, idx, _, dt) = genProjs(k)
      // values read out of the projection's UnsafeRow buffer are
      // transient — copy before they outlive the next apply
      val v = if (gen.isNullAt(k)) null
        else InternalRow.copyValue(gen.get(k, dt))
      if (genCheck && idx >= 0 && !record.isNullAt(idx)) {
        val given = record.get(idx, dt)
        if (v == null || given != v) throw new IllegalStateException(
          s"generated column $col: explicit value $given does not match " +
            s"the generation expression's $v — omit the column (or write " +
            "NULL/DEFAULT) and let the engine compute it")
      }
      // idx < 0 = the incoming row shape omits the generated column
      // (boundGenerators' "write omits it" case): there is no slot to
      // patch — the physical projection sources the value downstream
      if (idx >= 0) {
        if (v == null) genPatched.setNullAt(idx) else genPatched.update(idx, v)
      }
      k += 1
    }
    genPatched
  }

  // identity allocation: NULL at the identity position means generate
  // (omitted / DEFAULT / explicit NULL all arrive as NULL); strided by
  // step*numTasks so tasks never collide without coordination
  private var idNext: Long = idGen.map(_.first).getOrElse(0L)
  private var idLast: Option[Long] = None

  // ROW LINEAGE allocation state (same strided protocol); `rowCarry` is
  // the MOR reinsert side-channel — the original row's id arrives in the
  // delta writer's METADATA row, not the data row, so the delta writer
  // pins it here for the one write it wraps
  private var rowNext: Long = rowGen.map(_.first).getOrElse(0L)
  private var rowLast: Option[Long] = None
  private[sources] var rowCarry: Option[Long] = None

  // CHECK / NOT NULL enforcement: driver-bound violation predicates
  // compiled once per writer (codegen'd — zero cost when none declared)
  private val checkPreds: Array[(String, BasePredicate)] =
    violations.map { case (n, e) =>
      (n, org.apache.spark.sql.catalyst.expressions.Predicate.create(e))
    }.toArray

  private val isIdentity = partFields.isEmpty && idGen.isEmpty &&
    rowGen.isEmpty && proj.length == writeSchema.length &&
    proj.zipWithIndex.forall { case (p, i) => p == i }
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[String, (org.apache.parquet.hadoop.ParquetWriter[InternalRow], Path, GraftStats.Tracker)]
  private val paths = scala.collection.mutable.Buffer.empty[Path]
  private val reuse = new GenericInternalRow(proj.length)
  // index-on-write: one bloom/trigram tracker per open file, fed in the
  // hot loop next to the stats Tracker; entries ride the commit message
  private val hasIndexCols = indexCols._1.nonEmpty || indexCols._2.nonEmpty
  private val idxByPath =
    scala.collection.mutable.LinkedHashMap.empty[Path, GraftBloom.WriteTracker]

  /** `subdir` routes identity-partition rows into `col=value/` staging
    * subdirs; `namePrefix` routes bucketed rows into `bNNNNN-` files (the
    * name survives the commit rename, so the scan recovers the bucket id
    * from the landed file). Each open file gets a stats Tracker — min/max/
    * nullCount accumulate in the hot loop and ride the commit message.
    */
  private def open(subdir: String, namePrefix: String = ""): (org.apache.parquet.hadoop.ParquetWriter[InternalRow], Path, GraftStats.Tracker) = {
    val base = if (subdir.isEmpty) new Path(stagingDir) else new Path(stagingDir, subdir)
    val p = new Path(base,
      f"${namePrefix}part-$partitionId%05d-$taskId-${UUID.randomUUID()}.parquet")
    paths += p
    (ParquetRowIO.writer(p, physicalSchema, conf.value), p,
      new GraftStats.Tracker(physicalSchema))
  }

  private def partSubdir(record: InternalRow): String =
    partFields.indices.map { k =>
      val i = partIdx(k)
      val seg =
        if (record.isNullAt(i)) GraftTable.NullPartition
        else GraftTable.escapeSeg(
          record.get(i, partFields(k).dataType).toString)
      s"${partFields(k).name}=$seg"
    }.mkString("/")

  private def bucketId(record: InternalRow): Int = {
    val (i, dt, n) = bucket.get
    val v = if (record.isNullAt(i)) null else record.get(i, dt)
    GraftBucket.bucket(dt, v, n)
  }

  override def write(record0: InternalRow): Unit = {
    val record = withGenerated(record0)
    var ci = 0
    while (ci < checkPreds.length) {
      if (checkPreds(ci)._2.eval(record)) {
        val rendered = writeSchema.fieldNames
          .zip(record.toSeq(writeSchema)).map { case (n, v) => s"$n=$v" }
          .mkString(", ")
        throw new IllegalStateException(
          s"CHECK constraint '${checkPreds(ci)._1}' violated by row ($rendered) " +
            "— the write is aborted; the atomic commit leaves the table unchanged")
      }
      ci += 1
    }
    val (writer, outPath, tracker) =
      if (bucket.nonEmpty) {
        val b = bucketId(record)
        writers.getOrElseUpdate(s"b$b", open("", GraftBucket.fileName(b, "")))
      } else if (day.nonEmpty) {
        // hidden time partitioning: route by derived unit index, keep the
        // raw column in the parquet bytes (proj is identity here)
        val (i, dt, name, unit) = day.get
        val d = GraftDayPartition.unitOf(unit, dt,
          if (record.isNullAt(i)) null else record.get(i, dt))
        val key = GraftDayPartition.dirName(name, unit, d)
        writers.getOrElseUpdate(key, open(key))
      } else {
        val key = if (partFields.isEmpty) "" else partSubdir(record)
        writers.getOrElseUpdate(key, open(key))
      }
    val out = if (isIdentity) record else {
      var i = 0
      while (i < proj.length) {
        val src = proj(i)
        if (idGen.nonEmpty && i == idGen.get.physIdx) {
          val g = idGen.get
          if (idCarry && g.srcIdx >= 0 && !record.isNullAt(g.srcIdx)) {
            // update-reinserted row: its surrogate key survives the update
            reuse.update(i, record.getLong(g.srcIdx))
          } else if (g.srcIdx < 0 || record.isNullAt(g.srcIdx)) {
            reuse.update(i, idNext)
            idLast = Some(idNext)
            idNext += g.stride
          } else {
            if (!g.allowExplicit) throw new IllegalStateException(
              s"identity column ${g.col} is GENERATED ALWAYS — explicit " +
                "values are refused (insert NULL/DEFAULT, or declare it " +
                "GENERATED BY DEFAULT)")
            reuse.update(i, record.getLong(g.srcIdx))
          }
        }
        else if (rowGen.nonEmpty && i == rowGen.get.physIdx) {
          // row lineage: MOR reinserts carry via the metadata side-channel;
          // COW rewrites carry the projected metadata column; a NULL there
          // (merge-inserted row) — or no source at all (plain append) —
          // mints the next strided id
          val g = rowGen.get
          if (rowCarry.isDefined) reuse.update(i, rowCarry.get)
          else if (g.srcIdx >= 0 && !record.isNullAt(g.srcIdx))
            reuse.update(i, record.getLong(g.srcIdx))
          else {
            reuse.update(i, rowNext)
            rowLast = Some(rowNext)
            rowNext += g.stride
          }
        }
        else if (record.isNullAt(src)) reuse.setNullAt(i)
        else reuse.update(i, record.get(src, writeSchema.fields(src).dataType))
        i += 1
      }
      reuse
    }
    tracker.update(out)
    if (hasIndexCols)
      idxByPath.getOrElseUpdate(outPath,
        new GraftBloom.WriteTracker(physicalSchema, indexCols._1, indexCols._2))
        .update(out)
    writer.write(out)
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_._1.close())
    val fs = new Path(stagingDir).getFileSystem(conf.value)
    val stats = writers.values.map { case (_, p, tracker) =>
      p.toString -> tracker.result(fs.getFileStatus(p).getLen)
    }.toMap
    val indexes = idxByPath.toSeq.flatMap { case (p, t) =>
      t.result().map { case (c, bytes) => (p.toString, c, bytes) }
    }
    GraftCommit(paths.map(_.toString).toSeq, stats, idLast, indexes, rowLast)
  }

  override def abort(): Unit = writers.values.foreach(_._1.close())
  override def close(): Unit = ()
}
