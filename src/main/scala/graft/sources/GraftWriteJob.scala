package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.types.{DataType, StructType}

/** The driver side of one catalog write job, shared by the batch,
  * streaming and merge-on-read delta writers: the identity/row-id
  * [[Allocation]], the writer factory, and the [[Landing]] of staged files
  * into a commit through [[GraftTable.commitRetrying]].
  */
private[sources] object GraftWriteJob {

  /** Identity and row-lineage allocation of one write job, built once when
    * the job plans. It reads the head's `idwm:` watermarks ONE time and
    * derives the strided generators the job's tasks allocate with. At
    * commit, [[published]] turns the tasks' furthest values into the
    * `idwm:` meta the manifest carries, and [[check]] refuses a head whose
    * watermark moved since planning: the job's values were allocated
    * against a stale line. A generator that minted nothing publishes no
    * key (carry-forward keeps the old watermark) and is not checked.
    *
    * @param schema the incoming attributes: an identity column absent
    *   from them is generated, a `_row_id` present in them is carried
    * @param ids whether the job generates identity values (row-level
    *   rewrites carry existing ones)
    * @param rows whether the job may mint row ids
    */
  final class Allocation(table: GraftTable, fs: FileSystem, schema: StructType,
                         numParts: Int, ids: Boolean, rows: Boolean) {
    private val idSpec = if (ids) table.identity else None
    private val lineage = rows && table.rowLineage
    private val planned: Map[String, String] =
      if (idSpec.isEmpty && !lineage) Map.empty
      else GraftTable.readHead(fs, new Path(table.dir), table.branch).meta

    val idGen: Option[GraftIdentity.WriteGen] = idSpec.map { sp =>
      GraftIdentity.WriteGen(sp.col, table.physicalSchema.fieldIndex(sp.col),
        schema.fieldNames.indexOf(sp.col),
        GraftIdentity.watermark(planned, sp), sp.step, numParts,
        sp.allowExplicit)
    }

    val rowGen: Option[GraftIdentity.WriteGen] =
      if (!lineage) None
      else Some(GraftRowId.writeGen(GraftRowId.watermark(planned),
        schema.fieldNames.indexOf(GraftRowId.Col),
        table.physicalSchema.length, numParts))

    /** `idwm:` meta of a commit whose tasks allocated up to `idLasts` /
      * `rowLasts`: the furthest value per generator, in its step direction.
      */
    def published(idLasts: Seq[Long], rowLasts: Seq[Long]): Map[String, String] =
      Seq(idGen -> idLasts, rowGen -> rowLasts).collect {
        case (Some(g), lasts) if lasts.nonEmpty =>
          GraftIdentity.wmKey(g.col) ->
            (if (g.step > 0) lasts.max else lasts.min).toString
      }.toMap

    /** Refuse committing `published` over `head` when a generator that
      * minted finds its watermark moved since the job planned.
      */
    def check(head: GraftTable.Snapshot, published: Map[String, String]): Unit = {
      for (sp <- idSpec; g <- idGen if published.contains(GraftIdentity.wmKey(sp.col))) {
        val cur = GraftIdentity.watermark(head.meta, sp)
        if (cur != g.wm) throw new IllegalStateException(
          s"identity allocation on ${table.name()} raced a concurrent " +
            s"identity write (watermark ${g.wm} -> $cur since this write " +
            "planned) — re-run the statement (a streaming epoch replays on " +
            "restart)")
      }
      for (g <- rowGen if published.contains(GraftRowId.WmKey)) {
        val cur = GraftRowId.watermark(head.meta)
        if (cur != g.wm) throw new IllegalStateException(
          s"row-id allocation on ${table.name()} raced a concurrent " +
            s"lineage write (watermark ${g.wm} -> $cur since this write " +
            "planned) — re-run the statement (a streaming epoch replays on " +
            "restart)")
      }
    }
  }

  /** Bucket and time-unit routing of incoming rows shaped by `schema`. */
  def layout(table: GraftTable, schema: StructType)
      : (Option[(Int, DataType, Int)], Option[(Int, DataType, String, String)]) = {
    val bucket = table.bucketSpec.map { case (c, n) =>
      val i = schema.fieldIndex(c)
      (i, schema.fields(i).dataType, n)
    }
    val day = table.dayCol.map { c =>
      val i = schema.fieldIndex(c)
      (i, schema.fields(i).dataType, c, table.timeUnit)
    }
    (bucket, day)
  }

  /** Writer factory of a batch write or of one streaming epoch. Rows may
    * carry metadata columns (`_file`): only the table's PHYSICAL columns
    * are written (partition values become directories), whatever the
    * incoming attribute order, plus the trailing hidden `_row_id` on a
    * lineage table. `rewrite` marks a copy-on-write replace: generated
    * columns are recomputed instead of enforced, and carried rows arrive
    * through the two-arg write with the metadata row shaped by
    * requiredMetadataAttributes — `[_file, _row_id]` on a lineage table,
    * so the carried id sits at index 1. Layout, constraints and
    * index-on-write columns are the loaded table's: a streaming sink
    * writes every epoch with those it was started with.
    */
  def writerFactory(table: GraftTable, writeSchema: StructType,
                    stagingDir: Path, conf: Configuration,
                    alloc: Allocation, rewrite: Boolean): GraftWriterFactory = {
    val spark = SparkSession.active
    val proj = table.physicalSchema.fields.map(f =>
      if (table.identity.exists(_.col == f.name) &&
          !writeSchema.fieldNames.contains(f.name)) -1
      else writeSchema.fieldIndex(f.name)) ++
      (if (table.rowLineage)
        Array(writeSchema.fieldNames.indexOf(GraftRowId.Col))
      else Array.empty[Int])
    val (bucket, day) = layout(table, writeSchema)
    new GraftWriterFactory(stagingDir.toString, table.ioSchema, writeSchema, proj,
      table.partitionFields,
      table.partitionFields.map(f => writeSchema.fieldIndex(f.name)).toArray,
      new SerializableHadoopConf(conf), bucket,
      GraftConstraints.violationPredicates(spark, table, writeSchema),
      day, alloc.idGen,
      GraftGenerated.boundGenerators(spark, table, writeSchema),
      genStrict = !rewrite,
      indexCols = table.indexOnWriteCols,
      rowGen = alloc.rowGen,
      metaRowIdIdx = if (table.rowLineage && rewrite) 1 else -1)
  }

  /** The land step of one write job. Construction renames every staged
    * file into the table dir under its staging-relative subpath
    * (partition/day dirs). [[publish]] writes the files' stats-log and
    * bloom entries, keyed by landed NAME (uuid-unique for the file's
    * lifetime; the rename keeps it). [[commit]] publishes only after its
    * manifest create succeeded, and deletes the landed files when the
    * commit is refused or fails.
    */
  final class Landing(fs: FileSystem, dir: Path, stagingDir: Path,
                      staged: Seq[String],
                      stats: Map[String, GraftStats.FileStats],
                      indexes: Seq[(String, String, Array[Byte])] = Nil) {
    val landed: Seq[String] = staged.map { f =>
      val p = new Path(f)
      val tgt = new Path(dir, GraftTable.relativize(stagingDir, p))
      if (tgt.getParent != dir) fs.mkdirs(tgt.getParent)
      fs.rename(p, tgt)
      tgt.toString
    }

    def entries: Seq[GraftTable.GraftEntry] = landed.map(GraftTable.GraftEntry(_))

    def publish(): Unit =
      GraftFileLog.publish(fs, dir,
        stats.toSeq.map { case (p, st) => new Path(p).getName -> st },
        indexes.map { case (p, c, b) => (new Path(p).getName, c, b) })

    def commit(branch: Option[String], meta: Map[String, String])(
        next: GraftTable.Snapshot => Seq[GraftTable.GraftEntry]): Long = {
      val v =
        try GraftTable.commitRetrying(fs, dir, branch, meta)(next)
        catch {
          case e: Throwable =>
            landed.foreach(f => fs.delete(new Path(f), false))
            throw e
        }
      publish()
      v
    }
  }

  /** The landing of a batch job's or streaming epoch's task messages. */
  def landing(fs: FileSystem, dir: Path, stagingDir: Path,
              messages: Seq[GraftCommit]): Landing =
    new Landing(fs, dir, stagingDir, messages.flatMap(_.files),
      messages.flatMap(_.stats).toMap, messages.flatMap(_.indexes))

  def commits(messages: Array[WriterCommitMessage]): Seq[GraftCommit] =
    messages.toSeq.collect { case g: GraftCommit => g }
}
