package graft.sources

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, max, min}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** EQUALITY DELETES (Iceberg v2 equality-delete files): upsert-by-key
  * WITHOUT reading the target. A positional delete (MERGE through the
  * delta writer) must first scan the table to find each victim's
  * (file, pos); an equality delete just writes the KEYS — a parquet
  * sidecar of key tuples — and annotates the manifest: every data file
  * that existed before the commit gains a reference to the eq file, and
  * a row is masked when its key appears in any of its file's references.
  * Appended files never carry older references, so the NEW row versions
  * written by the same commit stay visible — last-writer-wins upserts in
  * one O(change-set) commit, no target scan, no file rewritten.
  *
  * Scale shape: the commit cost is the change set (write + one distinct),
  * never the table. STATS-SCOPED references keep the read cost bounded
  * too: a file whose recorded min/max provably cannot contain any changed
  * key does NOT get the reference (asserted in spec), so old cold files
  * never probe the key set. References are VERSIONED per manifest entry —
  * time travel sees each snapshot's own masks, restore rolls them back,
  * vacuum expires unreferenced eq files, and
  * [[materializeEqDeletes]] folds masks into rewritten files (a
  * `compact`-kind commit streams skip). PURGE composes: the eq sidecars
  * hold raw KEY BYTES, so purge folds them away and vacuum destroys them.
  */
object GraftEqDelete {

  // NOT underscore-prefixed (Spark's file index ignores `_`/`.` basenames
  // and the fold job reads these through spark.read) and NOT `.parquet`
  // (GraftTable.dataFiles and purgedCompletely's raw sweep must never
  // mistake a key sidecar for table data)
  private val Prefix = "eqdel-"
  def isEq(name: String): Boolean =
    name.startsWith(Prefix) && name.endsWith(".eqdel")
  private def freshName(): String =
    s"$Prefix${UUID.randomUUID().toString.replace("-", "")}.eqdel"

  /** Per-executor cache of eq-file key sets, keyed by (file, resolved
    * name/type signature): the FILE is immutable and uuid-named, but the
    * name RESOLUTION is not — a RENAME or type WIDENING after the upsert
    * changes what the sidecar's stored names mean, and a stale entry
    * would probe under the wrong name or at the wrong width. A set is a
    * few KB to a few MB — the change-set size.
    */
  private val cache =
    new ConcurrentHashMap[String, (Array[String], Set[Vector[Any]])]()

  /** Footer column names of one eq file (immutable — cached forever). */
  private val storedNamesCache = new ConcurrentHashMap[String, Array[String]]()

  private def storedNames(eqFile: String,
                          conf: org.apache.hadoop.conf.Configuration): Array[String] =
    storedNamesCache.computeIfAbsent(eqFile, { _ =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(eqFile), conf))
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getFileMetaData.getSchema.getFields.asScala
          .map(_.getName).toArray
      } finally r.close()
    })

  def keySet(eqFile: String, physicalSchema: StructType,
             conf: org.apache.hadoop.conf.Configuration): (Array[String], Set[Vector[Any]]) =
    keySet(eqFile, physicalSchema, Map.empty, conf)

  /** (CURRENT key column names, key tuple set) of one eq file. Key VALUES
    * use the same InternalRow representations the data reader produces
    * (UTF8String / Long / ...), so probe equality is representation-exact.
    *
    * Sidecars store the key names and typed values of their UPSERT EPOCH;
    * schema evolution after the upsert is resolved here, the same way the
    * data read path resolves files (GraftAliasReadSupport):
    *  - a stored name absent from the current schema resolves through the
    *    alias chains (a RENAME after the upsert) to the column's current
    *    name — the returned names are always CURRENT, which is what the
    *    probe's read schema keys on;
    *  - values are read at the column's CURRENT type (a WIDENING after
    *    the upsert): parquet matches the sidecar bytes by stored name and
    *    the converter up-converts, exactly as it does for pre-widen data
    *    files.
    * A stored name that resolves to NO current column (dropped) still
    * refuses: those masks must be folded before the DROP.
    */
  def keySet(eqFile: String, physicalSchema: StructType,
             aliases: Map[String, Seq[String]],
             conf: org.apache.hadoop.conf.Configuration): (Array[String], Set[Vector[Any]]) = {
    val stored = storedNames(eqFile, conf)
    val resolved: Array[(String, org.apache.spark.sql.types.StructField)] =
      stored.map { n =>
        val cur = physicalSchema.fields.find(_.name == n)
          .orElse(aliases.collectFirst {
            case (c, olds) if olds.contains(n) => c
          }.flatMap(c => physicalSchema.fields.find(_.name == c)))
          .getOrElse(throw new IllegalStateException(
            s"equality-delete file $eqFile keys on column '$n' which is " +
              "not in the table's physical schema under any name " +
              "(dropped?) — fold the masks (materializeEqDeletes) before " +
              "dropping key columns"))
        (n, cur)
      }
    val sig = resolved.map { case (n, f) =>
      s"$n>${f.name}:${f.dataType.simpleString}" }.mkString(s"$eqFile|", ",", "")
    val cached = cache.get(sig)
    if (cached != null) return cached
    // request the STORED name (what the sidecar file holds bytes under)
    // at the CURRENT type (what the data probe compares against)
    val schema = StructType(resolved.map { case (n, f) => f.copy(name = n) })
    val reader = ParquetRowIO.reader(new Path(eqFile),
      ParquetRowIO.readConf(conf, schema))
    val set = Set.newBuilder[Vector[Any]]
    try {
      var r = reader.read()
      while (r != null) {
        set += keyVector(r, schema.fields.indices.toArray,
          schema.fields.map(_.dataType), copy = true)
        r = reader.read()
      }
    } finally reader.close()
    val built = (resolved.map(_._2.name), set.result())
    cache.put(sig, built)
    built
  }

  /** Key tuple of a row. `copy` clones buffer-backed values (UTF8String)
    * for retention; probe-side lookups pass copy=false.
    */
  def keyVector(r: org.apache.spark.sql.catalyst.InternalRow,
                idx: Array[Int], dts: Array[DataType],
                copy: Boolean): Vector[Any] = {
    val b = Vector.newBuilder[Any]
    var i = 0
    while (i < idx.length) {
      val v = if (r.isNullAt(idx(i))) null else r.get(idx(i), dts(i))
      b += (v match {
        case u: UTF8String if copy => u.clone()
        case other => other
      })
      i += 1
    }
    b.result()
  }

  /** Upsert-by-key: one atomic commit = appended row versions + ONE
    * equality-delete sidecar masking the old versions. `changes` must
    * carry exactly one row per key (last-writer-wins needs a writer-side
    * order; enforce it before calling). Returns the committed version.
    *
    * Flat AND value-partitioned history tables (round 11): partitioned
    * change rows land under their `col=value/` directories (Spark's own
    * Hive path escaping — the layout the table's writer produces), and
    * the upsert stays one atomic commit. Masking is BY KEY, globally: a
    * row whose partitioning attribute changed lands in its NEW partition
    * while the old version — wherever it lives — is masked, which is
    * exactly upsert semantics. Partition COLUMNS are refused as keys
    * (their values live in path segments, not row bytes — the per-file
    * key probe could never see them).
    *
    * HIDDEN-TIME layouts (`days()`/`hours()`/`months()`, round 12): the
    * canonical 100 TB streaming fact table composes too. Change rows are
    * routed into their `<col>_<unit>=N/` directories by the SAME
    * TZ-independent unit arithmetic the table writer and the compaction
    * rewrites use (bit-for-bit agreement — see
    * GraftMaintenance.unitIndexExpr), so day pruning sees upserted files
    * exactly like appended ones, and an update that MOVES a row's
    * timestamp across days lands in its new day while the old version is
    * masked globally by key. The time column itself MAY be a key: unlike
    * value-partition columns its raw values live in the row bytes, which
    * is what the per-file probe reads.
    *
    * BUCKET layouts (round 12, completing the matrix): the bucket id
    * rides in the FILE NAME (`b00003-part-...`), so the staging write
    * partitions by a synthetic bucket column computed with the SAME
    * pinned-seed Murmur3 the writer and the storage-partitioned-join
    * machinery hash with, and landing renames each staged file into its
    * bucket-prefixed name at the table root — every upserted file claims
    * exactly the bucket its rows hash to, so SPJ placement and
    * bucket-prefix pruning hold over upserted files like appended ones.
    */
  def upsert(spark: SparkSession, catalog: String, table: String,
             changes: DataFrame, keyCols: Seq[String]): Long = {
    val t = GraftTable.load(spark, catalog, table)
    require(t.history,
      s"upsert: $catalog.$table is not a history table — equality deletes " +
        "are versioned in the manifest, which only history tables have")
    require(keyCols.forall(c => !t.partitionCols.contains(c)),
      s"upsert: key columns ${keyCols.mkString(",")} include a PARTITION " +
        "column — partition values live in path segments, not row bytes, " +
        "so the per-file key probe could never match them; key on " +
        "physical columns (or MERGE INTO)")
    // ROW LINEAGE composes (see below): the reinserted row version CARRIES
    // the masked row's _row_id — an upsert of an existing key is the same
    // row — and only genuinely new keys mint fresh ids, exactly the
    // DeltaWriter.reinsert contract re-expressed on the eq-delete path.
    require(keyCols.nonEmpty &&
      keyCols.forall(c => t.schema().fieldNames.contains(c)),
      s"upsert: key columns ${keyCols.mkString(",")} must exist in the table")
    require(keyCols.forall(c => !t.existenceDefaultCols.contains(c)),
      s"upsert: key columns ${keyCols.mkString(",")} must not carry " +
        "existence defaults — pre-add files hold no key bytes to probe")
    // RENAME/WIDEN history composes (round 13): the sidecar this upsert
    // writes stores CURRENT names and CURRENT-typed values; pre-evolution
    // files are probed through the same per-file alias resolution and
    // up-conversion the data read path applies. The inverse order — an
    // upsert whose sidecar predates a later rename/widen — resolves in
    // [[keySet]] (stored name → alias chain → current column, values read
    // at the current width).
    val dir = new Path(t.dir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())

    // cast to the exact table types FIRST — the sidecar keys and the
    // landed row versions must carry table-typed values, same as every
    // other write path (a raw untyped append would make the read-path
    // probe compare representations that never match). The LOGICAL
    // schema: partition columns ride along to route the staging write,
    // then live in path segments, not file bytes
    val casted = changes.select(t.schema().fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    // the change set is O(change), not O(table) — cache it: it feeds the
    // validation aggregate, the lineage carry join and TWO staging writes
    casted.persist()
    // EVERY cached frame is released on EVERY exit — success, refusal, or
    // an unexpected throw anywhere in the staging path (one finally around
    // the whole post-persist body): a retrying streaming caller's failed
    // epochs must not accumulate per-attempt cached plans
    val cached = scala.collection.mutable.Buffer[DataFrame](casted)
    try {

    // ALL change-set validation in ONE aggregate pass (round 12 — the
    // five separate driver actions were ~3× of the streaming caller's
    // per-epoch overhead): row count, distinct-key count (LWW needs one
    // row per key), null-key count, constraint violations, and the per-
    // key-column min/max bounding box the stats-scoped references and
    // the lineage carry scan prune with
    val nullKeyPred = keyCols.map(col(_).isNull).reduce(_ || _)
    val violations = (t.checks.map { case (_, text) =>
      org.apache.spark.sql.functions.expr(s"($text) <=> false")
    } ++ t.schema().fields.filterNot(_.nullable).toSeq
      .map(f => col(f.name).isNull)).reduceOption(_ || _)
    val sumIf = (p: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(p, 1L).otherwise(0L))
    // when the table's bucket column IS one of the upsert keys, the
    // distinct change-key BUCKETS ride the same single aggregate pass
    // (bounded by the bucket count): any row matching a change key shares
    // its bucket value, so files claiming OTHER buckets provably hold no
    // matching rows and skip the eq reference entirely — the bucket
    // analog of the stats-box skip below, from file names alone
    val bucketKeyCol: Option[(String, Int)] =
      t.bucketSpec.filter { case (c, _) => keyCols.contains(c) }
    val bucketAgg = bucketKeyCol.map { case (c, n) =>
      val dt = t.schema().fields.find(_.name == c).get.dataType
      org.apache.spark.sql.functions.collect_set(
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.expressions.BucketId(
            org.apache.spark.sql.graftbridge.Bridge.expression(col(c)), n)))
        .as("__buckets")
    }
    // likewise for hidden-time layouts whose TIME column is a key: the
    // distinct change-key day/hour/month units (the stats box spans
    // min..max CONTIGUOUSLY — a change set touching January and December
    // boxes the whole year; the unit SET skips every day between). One
    // layout owner per table, so at most one of these aggregates exists.
    val dayKeyCol: Option[(String, String,
        org.apache.spark.sql.types.DataType)] =
      t.dayCol.filter(keyCols.contains).map { c =>
        (c, t.timeUnit, t.schema().fields.find(_.name == c).get.dataType)
      }
    val unitAgg = dayKeyCol.map { case (c, u, dt) =>
      org.apache.spark.sql.functions.collect_set(
        org.apache.spark.sql.functions
          .expr(GraftMaintenance.unitIndexExpr(u, dt, c)).cast("long"))
        .as("__units")
    }
    val aggCols = Seq(
      org.apache.spark.sql.functions.count(lit(1L)).as("__n"),
      org.apache.spark.sql.functions.count_distinct(
        org.apache.spark.sql.functions.struct(keyCols.map(col): _*)).as("__k"),
      sumIf(nullKeyPred).as("__nullkeys"),
      sumIf(violations.getOrElse(lit(false))).as("__bad")) ++
      keyCols.flatMap(c => Seq(min(col(c)).as(s"__mn_$c"),
        max(col(c)).as(s"__mx_$c"))) ++ bucketAgg ++ unitAgg
    val vRow = casted.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val nRows = vRow.getLong(0)
    // an empty change set is a NO-OP, not a commit: landing a zero-key
    // sidecar would hang a pointless mask reference on every live file
    // (the stats box is empty, so nothing is provably skippable) and a
    // zero-part key stage has nothing to install. Returns the current
    // head version.
    if (nRows == 0)
      // the enclosing finally releases the cache on this return too
      return GraftTable.manifestVersions(fs, dir).lastOption.getOrElse(0L)
    def refused(msg: String): Nothing =
      throw new IllegalArgumentException(msg)
    val nKeys = vRow.getLong(1)
    if (nRows != nKeys) refused(
      s"upsert: change set has $nRows rows but $nKeys distinct keys — " +
        "collapse to one row per key (latest wins) before upserting")
    // null keys are rejected outright: SQL equality in the fold join and
    // the stats-scoped reference skip are both null-rejecting, while the
    // read-path probe matches null==null — admitting them would let a
    // compact-kind fold resurrect rows
    val nNullKeys = if (vRow.isNullAt(2)) 0L else vRow.getLong(2)
    if (nNullKeys != 0) refused(
      s"upsert: $nNullKeys change row(s) carry NULL in a key column " +
        s"(${keyCols.mkString(",")}) — equality-delete keys must be non-null")
    // CHECK / NOT NULL gate: every write path enforces the declared
    // constraints; an upsert is a write path
    val nBad = if (vRow.isNullAt(3)) 0L else vRow.getLong(3)
    if (nBad != 0) refused(
      s"upsert refused: $nBad change row(s) violate $catalog.$table's " +
        "declared CHECK constraints")
    val keyMinMax: Seq[(String, Any, Any)] =
      keyCols.zipWithIndex.map { case (c, i) =>
        (c, vRow.get(4 + 2 * i), vRow.get(4 + 2 * i + 1))
      }
    val bounds: Seq[org.apache.spark.sql.sources.Filter] =
      keyMinMax.flatMap { case (c, mn, mx) =>
        if (mn == null || mx == null) Nil
        else Seq(
          org.apache.spark.sql.sources.GreaterThanOrEqual(c, mn),
          org.apache.spark.sql.sources.LessThanOrEqual(c, mx))
      }
    // the buckets / time units the change keys route to (None when the
    // layout column is not a key); null keys were refused above, so
    // every key contributed a real id. The two layouts are exclusive,
    // so both read the same positional slot.
    val changeBuckets: Option[Set[Int]] = bucketKeyCol.map { _ =>
      vRow.getSeq[Int](4 + 2 * keyCols.size).toSet
    }
    val changeUnits: Option[Set[Long]] = dayKeyCol.map { _ =>
      vRow.getSeq[Long](4 + 2 * keyCols.size).toSet
    }

    // ROW LINEAGE CARRY: join the change set against the CURRENT visible
    // (key, _row_id) projection — column-pruned AND key-range-filtered, so
    // stats skipping reads only the files that could hold a changed key
    // (the same set that will gain the eq reference). Matched keys carry
    // their id (several visible rows may share a key — the upserted row
    // adopts the OLDEST identity, deterministically); unmatched keys mint
    // fresh ids above the head watermark, which advances in the SAME
    // atomic manifest commit as the files. Cost: O(change set + pruned key
    // columns), never a full-row table scan.
    // the WHOLE upsert is planned against one pinned snapshot and commits
    // exactly v0+1: a concurrent commit of ANY kind takes that version
    // first and the exclusive manifest create fails loudly — without the
    // pin, a racing lineage write could land between our watermark read
    // and a late head re-read, and the fresh ids minted here would
    // COLLIDE with its allocations.
    // OPTIMISTIC RETRY over ADDITIVE winners (round 13): when the create
    // loses to commits that are ALL pure APPENDs (kinds readable — the
    // `!kind=` meta), the serial order "their appends first, then this
    // upsert" is well-defined: the attempt's landed files are retracted,
    // everything snapshot-derived (watermark, carry scan, stats scoping,
    // mask references) re-derives against the winner's snapshot — the
    // cached change set is reused — and the commit re-tries at the new
    // head, exactly like the append-commit retry loop. Any non-additive
    // winner (another upsert, a compaction, a replace, a schema change)
    // keeps the loud refusal: replaying a snapshot-derived replacement
    // over one of those is a lost update.
    def attemptOnce(): Long = {
    val base = GraftTable.readHead(fs, dir, None)
    val v0 = base.version
    if (v0 == 0L)
      throw new IllegalStateException(s"$catalog.$table has no manifest")
    val carryCol = "__graft_carry"
    val (toLand, rowWmMeta): (DataFrame, Map[String, String]) =
      if (!t.rowLineage) (casted, Map.empty)
      else {
        // watermark OF the pinned snapshot, not of whatever is newest
        val wm0 = GraftRowId.watermark(base.meta)
        var existing = spark.table(s"$catalog.$table")
          .select((col(GraftRowId.Col) +: keyCols.map(col)): _*)
        keyMinMax.foreach { case (c, mn, mx) =>
          if (mn != null && mx != null)
            existing = existing.where(col(c) >= lit(mn) && col(c) <= lit(mx))
        }
        val carried = existing
          .groupBy(keyCols.map(col): _*)
          .agg(min(col(GraftRowId.Col)).as(carryCol))
        // no broadcast hint: the carried side is bounded by the distinct
        // keys in the scanned range, which a wide change set can grow past
        // broadcast size — AQE picks the strategy per actual size. Cached:
        // the fresh-count action and the staging write both read it, and
        // re-planning it would re-run the carry scan
        val joined = casted.join(carried, keyCols, "left").persist()
        cached += joined
        val nFresh = joined.where(col(carryCol).isNull).count()
        // fresh ids: wm0 + dense 1..nFresh by key order — deterministic,
        // and the window sorts only the (bounded) change set
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(keyCols.map(col): _*)
        val matched = joined.where(col(carryCol).isNotNull)
          .withColumn(GraftRowId.Col, col(carryCol))
        val fresh = joined.where(col(carryCol).isNull)
          .withColumn(GraftRowId.Col,
            lit(wm0) + org.apache.spark.sql.functions.row_number().over(w)
              .cast("long"))
        val unioned = matched.unionByName(fresh).drop(carryCol)
        (unioned,
          if (nFresh == 0) Map.empty[String, String]
          else Map(GraftRowId.WmKey -> (wm0 + nFresh).toString))
      }
    val ioSchema = t.ioSchema

    val staging = new Path(dir, s".upsert-${UUID.randomUUID()}")
    val physCols = ioSchema.fieldNames.toSeq
    // hidden-time layouts: the staging write partitions by the SAME
    // TZ-independent unit index the table writer derives (the raw column
    // stays in the row bytes — only the synthetic routing column is
    // consumed by partitionBy), and landing translates each
    // `__graft_unit=N` staging segment into the table's `<col>_<unit>=N`
    // directory name
    val unitColName = "__graft_unit"
    val bucketColName = "__graft_bucket"
    // bucket routing: the SAME pinned-seed Murmur3 the writer hashes
    // with, as the NATIVE codegen'd BucketId expression (round 13 — a
    // per-row Scala UDF was the last UDF on a write path): the generated
    // code emits the identical Murmur3_x86_32 calls the write path
    // makes, so routed placement is bit-for-bit the writer's
    val bucketCol: Option[org.apache.spark.sql.Column] =
      t.bucketSpec.map { case (c, n) =>
        val dt = t.schema().fields.find(_.name == c).get.dataType
        require(GraftBucket.supportedKeyType(dt),
          s"upsert: bucket key type $dt is unsupported")
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.expressions.BucketId(
            org.apache.spark.sql.graftbridge.Bridge.expression(col(c)), n))
          .as(bucketColName)
      }
    val stagePartCols: Seq[String] =
      if (t.dayCol.nonEmpty) Seq(unitColName)
      else t.partitionCols ++ bucketCol.map(_ => bucketColName)
    // SKEW-AWARE STAGING (round 13): routing concentrates rows by unit —
    // the bucket path repartitions one task per bucket (the key-sorted
    // single-file invariant) and a hidden-time change set can pile into
    // one day — so a change set big enough to matter (> maxTaskRows)
    // counts rows per routing unit (one aggregate over the cached change
    // set; skipped entirely below the threshold) and SALTS the staging
    // repartition: unit u splits into ceil(rows(u)/maxTaskRows) groups
    // keyed by the deterministic key hash, bounding the worst staging
    // task at O(maxTaskRows) instead of O(change set). A salted bucket
    // lands >1 file — the scan's outputOrdering claims per-file key
    // order only for single-file buckets, so storage-partitioned merge
    // plans degrade gracefully rather than break; each salted file is
    // still key-sorted within itself.
    val maxTaskRows: Long = spark.conf.getOption(StageMaxTaskRowsKey)
      .orElse(Option(fs.getConf.get(StageMaxTaskRowsKey)))
      .map(_.toLong).getOrElse(DefaultStageMaxTaskRows)
    require(maxTaskRows > 0, s"$StageMaxTaskRowsKey must be positive")
    // target-slot column + shuffle width for frame `d` routed by `unit`;
    // None when no unit exceeds the bound (the common CDC epoch — the
    // plan is untouched). Each HEAVY unit (at most nRows/maxTaskRows of
    // them by construction — the when-chain stays small) owns an EXACT
    // contiguous slot range [off, off+span) salted by the key hash;
    // every light unit shares a trailing region spread by UNIT hash, so
    // a light unit stays WHOLE in one slot (a light bucket keeps its
    // single key-sorted file and the merge-join ordering claim). The
    // range repartition places ~one slot per task — hash-partitioning
    // here would collide slots and re-concentrate the heavy unit.
    def slotFor(d: DataFrame, unit: String)
        : Option[(org.apache.spark.sql.Column, Int)] =
      if (nRows <= maxTaskRows) None
      else {
        import org.apache.spark.sql.functions.{pmod, when, hash => mh}
        def spanOf(n: Long) = math.ceil(n.toDouble / maxTaskRows).toInt
        val counts = d.groupBy(col(unit)).count().collect()
        val heavy = counts.filter(r => spanOf(r.getLong(1)) > 1)
        if (heavy.isEmpty) None
        else {
          val kh = mh(keyCols.map(col): _*)
          val heavySlots = heavy.map(r => (r, spanOf(r.getLong(1))))
          val heavyWidth = heavySlots.map(_._2).sum
          val lightRows = counts.map(_.getLong(1)).sum -
            heavy.map(_.getLong(1)).sum
          val lightWidth = math.max(1,
            math.ceil(lightRows.toDouble / maxTaskRows).toInt)
          val lightIdx = lit(heavyWidth) +
            pmod(mh(col(unit)), lit(lightWidth))
          var off = 0
          val idx = heavySlots.foldLeft(lightIdx) { case (acc, (r, span)) =>
            val cond =
              if (r.isNullAt(0)) col(unit).isNull
              else col(unit) <=> lit(r.get(0))
            val slot = lit(off) + pmod(kh, lit(span))
            off += span
            when(cond, slot).otherwise(acc)
          }
          Some((idx, heavyWidth + lightWidth))
        }
      }
    val stageDf = t.dayCol match {
      case Some(c) =>
        val dt = t.schema().fields.find(_.name == c).get.dataType
        val routed = toLand.select(physCols.map(col) :+
          org.apache.spark.sql.functions
          .expr(GraftMaintenance.unitIndexExpr(t.timeUnit, dt, c))
          .as(unitColName): _*)
        // no repartition in the common case: upstream tasks each write
        // their slice of a day (parallelism preserved). Only a skewed
        // heavy change set pays the routing shuffle, which then bounds
        // both the worst task AND the files-per-day at ceil(day/bound).
        slotFor(routed, unitColName) match {
          case Some((slot, width)) => routed.repartitionByRange(width, slot)
          case None => routed
        }
      case None =>
        val base = toLand.select((physCols ++ t.partitionCols).map(col) ++
          bucketCol.toSeq: _*)
        t.bucketSpec match {
          // one whole bucket per task, rows KEY-SORTED within it: the
          // write path always sorts within bucket files and the scan's
          // outputOrdering claims that order when a bucket holds one
          // file — an unsorted upserted file would silently break a
          // storage-partitioned merge join
          case Some((c, _)) => slotFor(base, bucketColName) match {
            case Some((slot, width)) => base.repartitionByRange(width, slot)
              .sortWithinPartitions(col(bucketColName), col(c))
            case None => base.repartition(col(bucketColName))
              .sortWithinPartitions(col(bucketColName), col(c))
          }
          case None => base
        }
    }
    GraftMaintenance.withMicrosTimestamps(spark) {
      // partitionBy routes each change row into its col=value/ directory
      // with Spark's own Hive path escaping — byte-identical layout to
      // the table writer's, so partition pruning and parsePartValues see
      // upserted files exactly like appended ones (flat tables: no-op)
      stageDf.write.partitionBy(stagePartCols: _*).mode("overwrite")
        .parquet(new Path(staging, "data").toString)
      casted.select(keyCols.map(col): _*).distinct().coalesce(1)
        .write.mode("overwrite").parquet(new Path(staging, "keys").toString)
    }
    // (file, partition subpath) pairs — recursion only descends the
    // col=value/ levels partitionBy wrote
    def parts(sub: String): Seq[(Path, String)] = {
      def walk(d: Path, rel: String): Seq[(Path, String)] =
        fs.listStatus(d).toSeq.flatMap { st =>
          val n = st.getPath.getName
          if (st.isDirectory && n.contains("="))
            walk(st.getPath, if (rel.isEmpty) n else s"$rel/$n")
          else if (st.isFile && n.endsWith(".parquet"))
            Seq((st.getPath, rel))
          else Nil
        }
      walk(new Path(staging, sub), "")
    }
    // staging segment -> table directory segment (identity except under
    // a time layout, where the synthetic unit index becomes the writer's
    // own directory name — null timestamps share Spark's null-partition
    // constant, so the null day dir round-trips too); the synthetic
    // bucket segment becomes a FILE-NAME prefix, not a directory
    def targetRel(rel: String): (String, Option[Int]) = {
      val segs = rel.split('/').filter(_.nonEmpty)
      val (bSegs, rest) = segs.partition(_.startsWith(s"$bucketColName="))
      val bucketId = bSegs.headOption
        .map(_.stripPrefix(s"$bucketColName=").toInt)
      val dirRel = t.dayCol match {
        case Some(c) if rest.nonEmpty =>
          val raw = rest.head.stripPrefix(s"$unitColName=")
          GraftDayPartition.dirName(c, t.timeUnit,
            if (raw == GraftTable.NullPartition) None else Some(raw.toLong))
        case _ => rest.mkString("/")
      }
      (dirRel, bucketId)
    }
    val landed = parts("data").map { case (p, rel0) =>
      val (rel, bucketId) = targetRel(rel0)
      val parent = if (rel.isEmpty) dir else new Path(dir, rel)
      if (parent != dir && !fs.exists(parent)) fs.mkdirs(parent)
      val base = s"part-upsert-${UUID.randomUUID().toString.take(12)}.parquet"
      val tgt = new Path(parent,
        bucketId.map(GraftBucket.fileName(_, base)).getOrElse(base))
      fs.rename(p, tgt); tgt.toString
    }
    val eqTarget = new Path(dir, freshName())
    parts("keys") match {
      case Seq((one, _)) => fs.rename(one, eqTarget)
      case many => throw new IllegalStateException(
        s"upsert: key sidecar staged ${many.size} parts")
    }
    fs.delete(staging, true)
    GraftFileLog.liftLanded(spark, t, landed, ioSchema)

    // a file whose recorded range provably cannot hold any changed key
    // skips the eq reference entirely; on a bucket-keyed table, so does
    // any file whose NAME claims a bucket no change key hashes to (pure
    // metadata, composes with the stats box)
    val stats = GraftFileLog.stats(fs, dir)
    val updated = base.entries.map { e =>
      val name = new Path(e.file).getName
      val statsSkip = bounds.nonEmpty &&
        stats.get(name)
          .exists(st => GraftStats.canDrop(bounds, t.physicalSchema, st))
      val bucketSkip = changeBuckets.exists(bs =>
        GraftBucket.fileBucketId(name).exists(b => !bs.contains(b)))
      // day-dir scope: a file in a unit no change key routes to holds no
      // matching rows; the null-day dir is skippable too (keys are
      // non-null, and a NULL timestamp never equality-matches one);
      // segment-less files (pre-evolution, past specs) are never skipped
      val daySkip = dayKeyCol.exists { case (c, u, _) =>
        changeUnits.exists(us =>
          GraftDayPartition.unitOfFile(t.dir, e.file, c, u) match {
            case Some(Some(unit)) => !us.contains(unit)
            case Some(None) => true
            case None => false
          })
      }
      if (statsSkip || bucketSkip || daySkip) e
      else e.copy(eqs = e.eqs :+ eqTarget.toString)
    }
    // the lineage watermark (when this upsert minted ids) rides the SAME
    // exclusive manifest create as the files — any head but v0 (a racing
    // committer took v0+1) refuses, and nothing of the allocation is
    // visible
    try GraftTable.commitRetrying(fs, dir,
        meta = rowWmMeta ++ GraftTable.kindMeta(GraftTable.KindEqDelta)) {
      head =>
        if (head.version != v0) throw new UpsertRace(v0, head.version)
        updated ++ landed.map(GraftTable.GraftEntry(_, None))
    } catch {
      case r: UpsertRace =>
        // this attempt's landed files and sidecar are unreferenced by
        // any manifest — retract them (and their lifted stats/index
        // entries) before the caller decides whether to re-derive
        val gone = landed :+ eqTarget.toString
        gone.foreach { f =>
          try fs.delete(new Path(f), false)
          catch { case _: java.io.IOException => }
        }
        val goneNames = gone.map(new Path(_).getName).toSet
        try {
          GraftFileLog.retain(fs, dir, n => !goneNames.contains(n))
        } catch { case _: java.io.IOException => }
        throw r
    }
    } // attemptOnce

    // frames cached by a LOST attempt (its carry join) are released
    // eagerly before the re-derive — only the shared change set below
    // this mark survives across attempts
    val sharedCached = cached.size
    var raceCause: Throwable = null
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      try return attemptOnce()
      catch {
        case r: UpsertRace =>
          while (cached.size > sharedCached)
            cached.remove(cached.size - 1).unpersist(false)
          val intervening = GraftTable.manifestVersions(fs, dir)
            .filter(_ > r.pinned)
          val allAppend = intervening.nonEmpty && intervening.forall(w =>
            GraftTable.commitKind(fs, dir, w)
              .contains(GraftTable.KindAppend))
          // an append that merge-evolved the schema is NOT replayable:
          // the staged rows were cast to the pinned schema
          val schemaStable =
            GraftTable.load(spark, catalog, table).schema() == t.schema()
          if (!allAppend || !schemaStable) throw new IllegalStateException(
            s"upsert: $catalog.$table commit race lost to a non-additive " +
              "winner (or the schema moved) — a snapshot-derived upsert " +
              "cannot replay over it; re-run the epoch against the new " +
              "head", r)
          raceCause = r
      }
    }
    throw new IllegalStateException(
      s"upsert: $catalog.$table lost the commit race on every retry",
      raceCause)
    } finally cached.foreach(_.unpersist(false))
  }

  /** Upper bound on rows a single staging-write task may carry before
    * the router salts its unit (day / bucket) across several tasks.
    * Session conf first, Hadoop conf fallback. The default targets a
    * few hundred MB of write work per task at typical row widths.
    */
  val StageMaxTaskRowsKey = "graft.upsert.stage.maxTaskRows"
  val DefaultStageMaxTaskRows = 4000000L

  /** Internal signal: a racing commit took `pinned`+1 (the head is at
    * `head`) and this attempt's files were retracted; the retry loop
    * decides whether the winner was additive enough to re-derive over.
    */
  private final class UpsertRace(val pinned: Long, head: Long)
    extends Exception(s"version ${pinned + 1} was taken: the head is at $head")

  /** Fold equality masks into rewritten data files (the eq analog of
    * materializeDeletes): every masked entry's file is rewritten without
    * its masked rows and re-pointed under a fresh name; the new manifest
    * carries no eq references and the commit is kind-marked `compact`
    * (row-multiset neutral — streams skip it). Positional DVs are folded
    * FIRST so the rewrite reads plain files. Returns entries folded.
    */
  def materializeEqDeletes(spark: SparkSession, table: GraftTable): Int = {
    val dir = new Path(table.dir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    require(table.history,
      s"materializeEqDeletes: ${table.dir} is not a history table")
    val head0 = GraftTable.readHead(fs, dir, None)
    if (head0.version == 0L) return 0
    val head =
      if (!head0.entries.exists(_.dv.nonEmpty)) head0
      else {
        GraftMaintenance.materializeDeletes(spark, table)
        GraftTable.readHead(fs, dir, None)
      }
    val masked = head.entries.filter(_.eqs.nonEmpty)
    if (masked.isEmpty) return 0
    val staging = new Path(dir, s".eqfold-${UUID.randomUUID()}")
    // RENAME/WIDEN history: the fold forward-maps every column to its
    // CURRENT name and width (old files hold bytes under former names and
    // narrower types; the sidecar keys may be either epoch), so the
    // anti-join compares like-for-like and rewritten files land at the
    // current schema — the fold doubles as the compact-to-current remedy.
    // Columns outside the current schema (dropped-column bytes) ride
    // along verbatim, exactly as the un-evolved fold kept them.
    val aliases = table.aliases
    val evolved = aliases.nonEmpty || table.widened.nonEmpty
    val curTypes: Map[String, DataType] =
      table.schema().fields.map(f => f.name -> f.dataType).toMap +
        (GraftRowId.Col -> org.apache.spark.sql.types.LongType)
    def forward(n: String): String =
      if (curTypes.contains(n)) n
      else aliases.collectFirst {
        case (c, olds) if olds.contains(n) => c }.getOrElse(n)
    def toCurrent(df: DataFrame, passthrough: Set[String]): DataFrame =
      df.select(df.columns.toSeq.map { c =>
        if (passthrough.contains(c)) col(c)
        else {
          val cur = forward(c)
          curTypes.get(cur).map(t => col(c).cast(t).as(cur)).getOrElse(col(c))
        }
      }: _*)
    // group files sharing a mask set: one read + anti-join job per group,
    // survivors staged per source file so boundaries (and counts) hold.
    // On an evolved table, files of different DDL epochs cannot share one
    // multi-file read (parquet matches by name against one sampled
    // footer) — subgroup by each file's own (name, type) shape first
    val rewrittenByName = scala.collection.mutable.Map.empty[String, Seq[String]]
    masked.groupBy(_.eqs.toSet).foreach { case (eqSet, group) =>
      val subgroups: Seq[Seq[GraftTable.GraftEntry]] =
        if (!evolved) Seq(group)
        else group.groupBy(e => spark.read.parquet(e.file).schema
          .map(f => (f.name, f.dataType))).values.toSeq
      subgroups.foreach { sub =>
      var df = spark.read.parquet(sub.map(_.file): _*)
        .withColumn("__graft_src",
          org.apache.spark.sql.functions.element_at(
            org.apache.spark.sql.functions.split(
              col("_metadata.file_path"), "/"), -1))
      if (evolved) df = toCurrent(df, passthrough = Set("__graft_src"))
      eqSet.toSeq.sorted.foreach { eq =>
        val keys0 = spark.read.parquet(eq)
        val keys = if (evolved) toCurrent(keys0, Set.empty) else keys0
        df = df.join(broadcast(keys), keys.columns.toSeq, "left_anti")
      }
      val out = new Path(staging, UUID.randomUUID().toString.take(8))
      GraftMaintenance.withMicrosTimestamps(spark) {
        df.write.partitionBy("__graft_src").mode("overwrite")
          .parquet(out.toString)
      }
      sub.foreach { e =>
        val name = new Path(e.file).getName
        // part file names are [A-Za-z0-9.-] — no partition-value escaping
        val sub = new Path(out, s"__graft_src=$name")
        // the rewrite lands in the SOURCE file's own directory, so a
        // partitioned file keeps its col=value/ segments (parsePartValues
        // derives partition values from the path; flat tables: the root)
        val srcParent = new Path(e.file).getParent
        val landed =
          if (!fs.exists(sub)) Nil // fully-masked file vanishes
          else fs.listStatus(sub).toSeq
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .map(_.getPath).zipWithIndex.map { case (p, i) =>
              val tgt = new Path(srcParent,
                s"${name.stripSuffix(".parquet")}-eqm$i-" +
                  s"${UUID.randomUUID().toString.take(8)}.parquet")
              fs.rename(p, tgt); tgt.toString
            }
        rewrittenByName(name) = landed
      }
      }
    }
    fs.delete(staging, true)
    GraftMaintenance.commitRewrite(fs, dir, masked, masked.flatMap(e =>
      rewrittenByName(new Path(e.file).getName).map(GraftTable.GraftEntry(_))))
    val allLanded = rewrittenByName.values.flatten.toSeq
    GraftFileLog.liftLanded(spark, table, allLanded,
      spark.read.parquet(allLanded.head).schema)
    masked.size
  }
}
