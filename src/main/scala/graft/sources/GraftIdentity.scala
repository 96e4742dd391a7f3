package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** IDENTITY columns (`id BIGINT GENERATED ALWAYS AS IDENTITY [(START
  * WITH s STEP i)]`) — engine-assigned monotone surrogate keys, the
  * Delta/modern-warehouse verb Spark only PARSES: the DSv2 capability
  * gates the DDL and the column's spec rides `Column.identityColumnSpec`,
  * but value generation is entirely the connector's job (nothing in
  * Spark's analyzer or write path touches it — an unimplemented catalog
  * silently lands NULLs).
  *
  * Semantics here:
  *  - INSERTs that omit the column, write `DEFAULT`, or write NULL all
  *    reach the writer as NULL (observed analyzer behavior, probed) —
  *    NULL is the generate-me signal, like MySQL AUTO_INCREMENT.
  *  - `GENERATED ALWAYS` refuses explicit non-null values;
  *    `GENERATED BY DEFAULT` admits them (they do NOT advance the
  *    watermark — Delta draws the same line and ships SYNC IDENTITY as
  *    the manual catch-up; colliding with a future generated value is
  *    the user's contract breach).
  *  - Values are UNIQUE and step-directional but NOT gapless: task p of
  *    an n-task write allocates wm + step·(1+p), wm + step·(1+p+n), … —
  *    zero coordination inside the job, gaps where tasks write unevenly
  *    (every engine documents the same trade).
  *  - The WATERMARK (furthest allocated value) is commit metadata
  *    (`!idwm:<col>=v`) INSIDE the atomic manifest create, carried
  *    forward by every commit like streaming txn markers — so it can
  *    never run backwards, survives vacuum of any log prefix, rides
  *    branch forks (a branch inherits the fork-point watermark, its
  *    own commits advance it, fast-forward publishes it), and makes two
  *    RACING identity appends fail loudly (the loser sees a moved
  *    watermark — its values were allocated against a stale one) while
  *    non-identity appends still retry freely.
  *
  * Scope guards (each refused loudly at CREATE): history tables only
  * (the watermark lives in the manifest), at most one identity column,
  * BIGINT only, not a partition/bucket/time-layout column, step != 0;
  * the column never renames (the watermark key embeds its name).
  * MERGE-ON-READ tables compose: the delta write path runs the same
  * watermark protocol for genuine MERGE inserts (allocate under the
  * commit's manifest, race-checked), while update-REINSERTED rows carry
  * their existing key verbatim — a surrogate key survives its row's
  * update (GraftDeltaWriter.reinsert / GraftDataWriter.idCarry).
  * The NATIVE streaming sink generates identity values per micro-batch:
  * epochs of a query are serial, so each epoch's writer factory re-reads
  * the head watermark (the batch-append protocol, once per epoch) and
  * the commit publishes the advanced watermark inside the same atomic
  * manifest as the exactly-once transaction marker.
  */
object GraftIdentity {

  val ColProp = "graft.identity.col"
  val StartProp = "graft.identity.start"
  val StepProp = "graft.identity.step"
  val ExplicitProp = "graft.identity.explicit"

  case class Spec(col: String, start: Long, step: Long, allowExplicit: Boolean)

  def specOf(props: Map[String, String]): Option[Spec] =
    props.get(ColProp).map { c =>
      Spec(c, props.getOrElse(StartProp, "1").toLong,
        props.getOrElse(StepProp, "1").toLong,
        props.getOrElse(ExplicitProp, "false").toBoolean)
    }

  def wmKey(col: String): String = s"idwm:$col"

  /** Furthest allocated value; absent → start - step (next = start). */
  def watermark(meta: Map[String, String], spec: Spec): Long =
    meta.get(wmKey(spec.col)).map(_.toLong).getOrElse(spec.start - spec.step)

  /** Job-level generation plan, resolved once at write build: task p of
    * numParts starts at `wm + step·(1+p)` and strides `step·numParts`.
    */
  case class WriteGen(col: String, physIdx: Int, srcIdx: Int, wm: Long,
                      step: Long, numParts: Int, allowExplicit: Boolean)

  /** Per-task allocator state. */
  case class TaskGen(physIdx: Int, srcIdx: Int, first: Long, stride: Long,
                     allowExplicit: Boolean, col: String)

  def taskGen(g: WriteGen, partitionId: Int): TaskGen =
    TaskGen(g.physIdx, g.srcIdx, g.wm + g.step * (1L + partitionId),
      g.step * g.numParts, g.allowExplicit, g.col)

  /** SYNC IDENTITY (Delta's verb): advance the watermark to the furthest
    * value PRESENT in the table — the catch-up after `GENERATED BY
    * DEFAULT` explicit inserts outran it (explicit values never advance
    * the watermark at write time; without a sync, future generated values
    * could collide with them). Served from the MANIFEST STATS LOG when
    * every live file recorded the column's bounds (metadata-only —
    * masked rows are included, which only moves the watermark FORWARD:
    * always safe), falling back to one column-pruned scan. A moved
    * watermark commits as a no-op `compact`-kind manifest (streams skip
    * it; the meta rides the same atomic create as every commit).
    * Returns (old, new).
    */
  def sync(spark: org.apache.spark.sql.SparkSession, t: GraftTable): (Long, Long) = {
    val dir = new Path(t.dir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val spec = t.identity.getOrElse(throw new IllegalArgumentException(
      s"graft_sync_identity: ${t.dir} has no identity column"))
    val head = GraftTable.readHead(fs, dir, None)
    val (v, entries) = (head.version, head.entries)
    val wm0 = watermark(head.meta, spec)
    if (entries.isEmpty) return (wm0, wm0)
    val stats = GraftFileLog.stats(fs, dir)
    val perFile = entries.map(e =>
      stats.get(new Path(e.file).getName).flatMap(_.cols.get(spec.col))
        .flatMap(cs => if (spec.step > 0) cs.max else cs.min).map(_.toLong))
    val observed: Long =
      if (perFile.forall(_.isDefined)) {
        val vs = perFile.flatten
        if (spec.step > 0) vs.max else vs.min
      } else {
        // stats gap (foreign copy-in): one column-pruned distributed scan
        val col = org.apache.spark.sql.functions.col(spec.col)
        val agg = if (spec.step > 0) org.apache.spark.sql.functions.max(col)
          else org.apache.spark.sql.functions.min(col)
        val r = spark.read.parquet(entries.map(_.file): _*)
          .agg(agg).collect()(0)
        if (r.isNullAt(0)) return (wm0, wm0) else r.getLong(0)
      }
    val wm1 = if (spec.step > 0) math.max(wm0, observed)
      else math.min(wm0, observed)
    if (wm1 == wm0) return (wm0, wm0)
    GraftTable.commitRetrying(fs, dir, meta = GraftTable.kindMeta(
        GraftTable.KindCompact) + (wmKey(spec.col) -> wm1.toString))(
      GraftTable.pinnedAt(t.dir, v)(entries))
    (wm0, wm1)
  }
}
