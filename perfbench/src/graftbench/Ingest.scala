package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Text
import graft.operators.{BatchEnrich, Cdc, EtlOps, NameRuleEnricher}
import graft.streaming.StreamOps

/** `ingest`: the reference card pipeline landing in the catalog, writes
  * beside snapshot reads.
  *
  * Two history tables, one unpartitioned (`flat`) and one partitioned by
  * days() of the approval date (`daily`), start from BaseKeys generated
  * cards. A cycle takes seeded slices of cards through the reference chain
  * (classify status, keep approved, split the header, parse the Danish
  * date, extract the ATC code, enrich the drug name, conform the schema)
  * and commits them by a seed-shuffled mix of append, MERGE INTO, streamed
  * upsert micro-batches, UPDATE and DELETE, with a snapshot read after
  * every second commit and one compaction per cycle.
  *
  * Correctness: every step is logged; after the run the same seeded
  * slices are recomputed on plain DataFrames and folded into an in-memory
  * model of each table, which must equal the final table and every
  * current-version and VERSION AS OF read.
  */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  private val spark = ctx.spark

  private final class Tbl(val short: String) {
    def name = s"${ctx.Cat}.$ns.$short"
    def dir = s"${ctx.warehouse}/$ns/$short"
    var cursor = 0L
    var cycleVersion = 0L
    var cycleStep = 0
    val log = mutable.ArrayBuffer[Step]()
    val reads = mutable.ArrayBuffer[Read]()
  }

  private var ns = ""
  private var flat: Tbl = _
  private var daily: Tbl = _
  private var stream: StreamingQuery = _
  private var input: MemoryStream[Row] = _
  private var streamSeq = 0L
  private var failedChunks = 0L
  private val rng = new scala.util.Random(ctx.seed)

  def setup(namespace: String): Unit = {
    if (stream != null) { stream.stop(); stream = null }
    ns = namespace
    flat = new Tbl("flat")
    daily = new Tbl("daily")
    ctx.sql(s"CREATE NAMESPACE IF NOT EXISTS ${ctx.Cat}.$ns")
    ctx.sql(s"CREATE TABLE ${flat.name} ($Schema) TBLPROPERTIES('history'='true')")
    ctx.sql(s"""CREATE TABLE ${daily.name} ($Schema)
               |PARTITIONED BY (days(approval_date)) TBLPROPERTIES('history'='true')""".stripMargin)
    for (t <- Seq(flat, daily)) {
      t.log += Load(1, BaseKeys + 1, 0)
      chain(keys(1, BaseKeys + 1, 0)).createOrReplaceTempView("bench_src")
      ctx.sql(s"INSERT INTO ${t.name} SELECT * FROM bench_src")
      t.cursor = BaseKeys + 1
    }
    input = MemoryStream[Row](Encoders.row(chain(keys(1, 2, 0)).schema
      .add("seq", "long").add("op", "string")), spark)
    stream = StreamOps.catalogUpsertStream(input.toDF(), flat.name, flat.dir,
      "order_id", "seq", "op")
  }

  def warmup(): Unit = runCycle(4)

  def cycle(c: Int): Unit = runCycle(1)

  /** One cycle, the same shape every time: a history lookup per table;
    * five commits in seeded order (append to `flat`, MERGE into `daily`, a
    * streamed upsert micro-batch into `flat`, UPDATE of `daily`, DELETE
    * from `flat`), each followed by one of five snapshot reads in seeded
    * order; then a compaction of each table. `shrink` divides the slice
    * sizes (warm-up only). */
  private def runCycle(shrink: Int): Unit = {
    val r = new scala.util.Random(rng.nextLong())
    val sizes = r.shuffle(SliceSizes).map(_ / shrink)
    val commits = r.shuffle(Seq[() => Unit](
      () => append(flat, sizes(0)), () => merge(daily, sizes(1)), () => streamBatch(sizes(2)),
      () => update(daily, RangeWidth / shrink, r.nextInt(3)),
      () => delete(flat, RangeWidth / shrink, r.nextInt(4))))
    val reads = r.shuffle(Seq[() => Unit](
      () => readCurrent(daily), () => readVersionAsOf(flat), () => readChanges(daily),
      () => readPoint(daily, 1 + math.floorMod(r.nextLong(), daily.cursor - 1)),
      () => readDays(daily, r.nextInt(Days - 2), 1 + r.nextInt(2))))
    for (t <- Seq(flat, daily)) ctx.op(s"history ${t.short}", "read") {
      t.cycleVersion = ctx.sql(s"SELECT max(version) FROM graft_history('${ctx.Cat}', '$ns.${t.short}')")
        .collect().head.getLong(0)
      t.cycleStep = t.log.size
      1L
    }
    commits.zip(reads).foreach { case (commit, read) => commit(); read() }
    compact(flat)
    compact(daily)
  }

  private def keys(lo: Long, hi: Long, salt: Int): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"), lit(salt).as("salt"))

  /** The reference chain over generated cards, as plain DataFrame ops. */
  private def chain(src: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val cards = ctx.span("cards", "functions")(Ingest.cards(src, ctx.seed))
    val parsed = ctx.span("text chain", "functions") {
      cards.withColumn("status", Text.classifyStatus(col("card")))
        .where(col("status").isin(Text.ApprovedStatuses: _*))
        .withColumn("sp", Text.splitFirst(col("header")))
        .select((Seq(col("k"), col("status"), col("sp.head").as("head"),
          col("sp.tail").as("tail"), Text.parseDanishDate(col("date_text")).as("adate"),
          Text.extractAtc(col("atc_text")).as("atc_raw"), col("cents")) ++ keep.map(col)): _*)
    }
    val (enriched, failed) = ctx.span("BatchEnrich.enrichCounted", "operators") {
      BatchEnrich.enrichCounted(parsed, "head", new NameRuleEnricher)
    }
    accumulators += failed
    ctx.span("EtlOps.conformSchema", "operators") {
      EtlOps.conformSchema(enriched, Seq(
        ("k", "order_id", lit(-1L)), ("status", "status", lit("")),
        ("head", "drug_name", lit("")), ("tail", "indication", lit("")),
        ("adate", "approval_date", lit(null).cast("date")), ("atc_raw", "atc", lit("")),
        ("active_ingredient", "active_ingredient", lit("")),
        ("trade_name", "trade_name", lit("")), ("cents", "cents", lit(0L)),
        (null, "source_system", lit("medicinraadet"))) ++
        keep.map(k => (k, k, lit(null))))
    }
  }
  private val accumulators = mutable.ArrayBuffer[org.apache.spark.util.LongAccumulator]()

  private def append(t: Tbl, n: Int): Unit = {
    val (lo, hi) = (t.cursor, t.cursor + n)
    t.cursor = hi
    t.log += Load(lo, hi, 0)
    ctx.op(s"append ${t.short}", "commit") {
      chain(keys(lo, hi, 0)).createOrReplaceTempView("bench_src")
      ctx.span("INSERT INTO", "sources")(ctx.sql(s"INSERT INTO ${t.name} SELECT * FROM bench_src"))
      n
    }
  }

  private def merge(t: Tbl, n: Int): Unit = {
    val (lo, hi) = (t.cursor - n / 2, t.cursor + n - n / 2)
    val salt = t.log.size + 1
    t.cursor = hi
    t.log += Load(lo, hi, salt)
    ctx.op(s"merge ${t.short}", "commit") {
      chain(keys(lo, hi, salt)).createOrReplaceTempView("bench_src")
      ctx.span("MERGE INTO", "sources")(ctx.sql(
        s"""MERGE INTO ${t.name} t USING bench_src s ON t.order_id = s.order_id
           |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      n
    }
  }

  private def streamBatch(n: Int): Unit = {
    val t = flat
    val (lo, hi) = (t.cursor - n / 2, t.cursor + n - n / 2)
    val salt = t.log.size + 1
    val split = t.cursor
    t.cursor = hi
    t.log += Upsert(lo, hi, salt, split)
    streamSeq += 1
    val seq = streamSeq
    ctx.op("stream upsert flat", "commit") {
      val rows = ctx.span("changes", "functions") {
        streamChanges(chain(keys(lo, hi, salt)), split, seq).collect()
      }
      ctx.span("catalogUpsertStream batch", "streaming") {
        input.addData(rows.toSeq)
        stream.processAllAvailable()
      }
      n
    }
  }

  /** Deletes for a seeded eighth of the already-present keys. */
  private def streamChanges(df: DataFrame, split: Long, seq: Long): DataFrame =
    df.withColumn("seq", lit(seq)).withColumn("op",
      when(col("order_id") < split && pmod(xxhash64(col("order_id"), lit(ctx.seed), lit(7)), lit(8)) === 0,
        Cdc.OpDelete).otherwise(Cdc.OpUpsert))

  private def update(t: Tbl, width: Int, r: Int): Unit = {
    val lo = 1 + math.floorMod(rng.nextLong(), t.cursor - width)
    t.log += Update(lo, lo + width, r)
    ctx.op(s"update ${t.short}", "commit") {
      ctx.span("UPDATE", "sources")(ctx.sql(
        s"""UPDATE ${t.name} SET cents = cents + 1, indication = concat(indication, '*')
           |WHERE order_id >= $lo AND order_id < ${lo + width} AND order_id % 3 = $r""".stripMargin))
      width / 3
    }
  }

  private def delete(t: Tbl, width: Int, r: Int): Unit = {
    val lo = 1 + math.floorMod(rng.nextLong(), t.cursor - width)
    t.log += Delete(lo, lo + width, r)
    ctx.op(s"delete ${t.short}", "commit") {
      ctx.span("DELETE", "sources")(ctx.sql(
        s"""DELETE FROM ${t.name}
           |WHERE order_id >= $lo AND order_id < ${lo + width} AND order_id % 4 = $r""".stripMargin))
      width / 4
    }
  }

  private def compact(t: Tbl): Unit = {
    t.log += Compact
    ctx.op(s"compact ${t.short}", "commit") {
      ctx.span("graft_compact", "sources")(
        ctx.sql(s"SELECT * FROM graft_compact('${ctx.Cat}', '$ns.${t.short}')").collect())
      0L
    }
  }

  /** A read op whose result must equal `expect` over the model state after
    * `step` steps of `t`'s log. */
  private def read(t: Tbl, what: String, step: => Int, q: String,
                   expect: Map[Long, Seq[Any]] => Iterable[Seq[Any]]): Unit = {
    ctx.op(s"read $what ${t.short}", "read") {
      val rs = ctx.sql(q).collect()
      t.reads += Read(step, Util.digest(Util.rowsOf(rs)), what, expect)
      rs.length
    }
    if (ctx.tracer.on && what != "version-as-of")
      ctx.liveFiles(ctx.lastOp) = ctx.countLiveFiles(s"$ns.${t.short}")
  }

  private def readCurrent(t: Tbl): Unit =
    read(t, "current", t.log.size, s"SELECT $ReadAgg FROM ${t.name} GROUP BY status", aggregate)

  private def readVersionAsOf(t: Tbl): Unit =
    read(t, "version-as-of", t.cycleStep,
      s"SELECT $ReadAgg FROM ${t.name} VERSION AS OF ${t.cycleVersion} GROUP BY status", aggregate)

  /** The change feed of the last commit before the cycle started (not
    * checked against the model: its row images are the catalog's own). */
  private def readChanges(t: Tbl): Unit =
    ctx.op(s"read changes ${t.short}", "read") {
      ctx.sql(
        s"""SELECT count(*), sum(cents) FROM graft_changes('${ctx.Cat}', '$ns.${t.short}',
           |${t.cycleVersion - 1}, ${t.cycleVersion})""".stripMargin).collect().length
    }

  private def readPoint(t: Tbl, k: Long): Unit =
    read(t, "point", t.log.size, s"SELECT $Cols FROM ${t.name} WHERE order_id = $k",
      m => m.get(k).toSeq)

  /** A `width`-day approval-date range: partition pruning on `daily`. */
  private def readDays(t: Tbl, from: Int, width: Int): Unit = {
    val d0 = java.time.LocalDate.parse(FirstDay).plusDays(from)
    val d1 = d0.plusDays(width - 1)
    read(t, "day range", t.log.size,
      s"""SELECT approval_date, count(*), sum(cents) FROM ${t.name}
         |WHERE approval_date BETWEEN DATE'$d0' AND DATE'$d1' GROUP BY approval_date""".stripMargin,
      m => m.values.filter { v =>
        val d = v(DateIdx).asInstanceOf[java.sql.Date].toLocalDate
        !d.isBefore(d0) && !d.isAfter(d1)
      }.groupBy(_(DateIdx)).map { case (d, rs) =>
        Seq(d, rs.size.toLong, rs.map(_(CentsIdx).asInstanceOf[Long]).sum)
      })
  }

  // ---- verification -------------------------------------------------

  private var liveRows = 0L

  def verify(): Seq[(String, Boolean, String)] = {
    if (stream != null) { stream.stop(); stream = null }
    failedChunks = accumulators.map(_.value.longValue).sum
    Seq(flat, daily).flatMap { t =>
      val model = replay(t)
      liveRows += model.last.size
      val finalRows = Util.rowsOf(ctx.sql(s"SELECT $Cols FROM ${t.name}").collect())
      val finalOk = Util.digest(finalRows) == Util.digest(model.last.values)
      val readsOk = t.reads.map(r => (r.what, Util.digest(r.expect(model(r.step))) == r.got))
      val bad = readsOk.filterNot(_._2)
      Seq(
        (s"ingest ${t.short}: final table equals the replay", finalOk,
          s"${finalRows.size} rows, model ${model.last.size}"),
        (s"ingest ${t.short}: snapshot reads equal the replay", bad.isEmpty,
          s"${readsOk.size} reads" + (if (bad.isEmpty) "" else s", mismatched: ${bad.map(_._1).mkString(", ")}")))
    } :+ (("ingest: no enrich chunk failed", failedChunks == 0, s"$failedChunks failed chunks"))
  }

  /** Model state after each logged step (index i = state after i steps). */
  private def replay(t: Tbl): IndexedSeq[Map[Long, Seq[Any]]] = {
    val sliceSteps = t.log.zipWithIndex.collect {
      case (Load(lo, hi, salt), i) => (i, lo, hi, salt, 0L)
      case (Upsert(lo, hi, salt, split), i) => (i, lo, hi, salt, split)
    }
    val src = sliceSteps.map { case (i, lo, hi, salt, _) =>
      keys(lo, hi, salt).withColumn("step", lit(i))
    }.reduce(_ unionByName _)
    val splitOf = sliceSteps.map(s => s._1 -> s._5).toMap
    // one job computes every slice the run committed
    val conformed = chain(src, Seq("step"))
    val withOps = conformed.withColumn("op",
      when(pmod(xxhash64(col("order_id"), lit(ctx.seed), lit(7)), lit(8)) === 0, Cdc.OpDelete)
        .otherwise(Cdc.OpUpsert))
    val bySlice = withOps.collect().groupBy(_.getAs[Int]("step"))
    val states = mutable.ArrayBuffer[Map[Long, Seq[Any]]](Map.empty)
    var cur = Map.empty[Long, Seq[Any]]
    t.log.zipWithIndex.foreach { case (step, i) =>
      def rows = bySlice.getOrElse(i, Array.empty[Row])
      def data(r: Row) = r.toSeq.take(NCols)
      cur = step match {
        case Load(_, _, _) => cur ++ rows.map(r => r.getLong(0) -> data(r))
        case Upsert(_, _, _, _) =>
          rows.foldLeft(cur) { (m, r) =>
            val k = r.getLong(0)
            val del = r.getAs[String]("op") == Cdc.OpDelete && k < splitOf(i)
            if (del) m - k else m + (k -> data(r))
          }
        case Update(lo, hi, rem) =>
          cur.map { case (k, v) =>
            if (k >= lo && k < hi && k % 3 == rem)
              k -> v.updated(IndicationIdx, v(IndicationIdx).toString + "*")
                .updated(CentsIdx, v(CentsIdx).asInstanceOf[Long] + 1)
            else k -> v
          }
        case Delete(lo, hi, rem) => cur.filterNot { case (k, _) => k >= lo && k < hi && k % 4 == rem }
        case Compact => cur
      }
      states += cur
    }
    states.toIndexedSeq
  }

  /** The snapshot-read aggregate, over a model state. */
  private def aggregate(m: Map[Long, Seq[Any]]): Iterable[Seq[Any]] =
    m.values.groupBy(_(StatusIdx)).map { case (status, rs) =>
      Seq(status, rs.size.toLong, rs.map(_(CentsIdx).asInstanceOf[Long]).sum,
        rs.map(_(DrugIdx)).toSet.size.toLong)
    }.toSeq

  override def extras(): Seq[(String, Double, String)] = {
    val bytes = Util.treeBytes(new java.io.File(ctx.work, s"wh/$ns"))
    Seq(("stored_bytes_per_row", bytes.toDouble / math.max(1L, liveRows), "B"),
      ("live_rows", liveRows.toDouble, "rows"),
      ("enrich_failed_chunks", failedChunks.toDouble, "count"))
  }

  override def historyTables: Seq[String] = Seq(s"$ns.flat", s"$ns.daily")

  /** The reference chain alone over one 3,000-card slice, projected to a
    * noop sink: median of three. */
  override def layerProbes(): Map[String, Double] = Map(
    "functions.etl_chain_ms" -> Util.median((1 to 3).map { i =>
      Util.time(ctx.noop(chain(keys(1, 3001, -i))))._2 * 1000
    }),
    "operators.enrich_failed_chunks" -> failedChunks.toDouble)
}

object Ingest {
  val BaseKeys = 10000L
  val SliceSizes: Seq[Int] = Seq(1000, 3000, 5000)
  val RangeWidth = 3000
  val Days = 8
  val FirstDay = "2024-01-01"

  final case class Read(step: Int, got: String, what: String,
                        expect: Map[Long, Seq[Any]] => Iterable[Seq[Any]])

  sealed trait Step
  final case class Load(lo: Long, hi: Long, salt: Int) extends Step
  final case class Upsert(lo: Long, hi: Long, salt: Int, split: Long) extends Step
  final case class Update(lo: Long, hi: Long, rem: Int) extends Step
  final case class Delete(lo: Long, hi: Long, rem: Int) extends Step
  case object Compact extends Step

  val Schema: String =
    """order_id BIGINT, status STRING, drug_name STRING, indication STRING,
      |approval_date DATE, atc STRING, active_ingredient STRING, trade_name STRING,
      |cents BIGINT, source_system STRING""".stripMargin
  val Cols = "order_id, status, drug_name, indication, approval_date, atc, " +
    "active_ingredient, trade_name, cents, source_system"
  val NCols = 10
  val StatusIdx = 1
  val DrugIdx = 2
  val IndicationIdx = 3
  val DateIdx = 4
  val CentsIdx = 8
  val ReadAgg = "status, count(*), sum(cents), count(DISTINCT drug_name)"

  private val Drugs = Seq("lenalidomid revlimid", "pembrolizumab keytruda",
    "nivolumab opdivo", "dupilumab dupixent", "semaglutid ozempic",
    "adalimumab humira", "ibrutinib imbruvica", "osimertinib tagrisso",
    "olaparib lynparza", "atezolizumab tecentriq", "daratumumab darzalex",
    "ocrelizumab ocrevus", "risankizumab skyrizi", "upadacitinib rinvoq",
    "tezepelumab tezspire", "efgartigimod vyvgart")
  private val Indications = Seq("myelomatose", "lungekraeft", "atopisk eksem",
    "type 2-diabetes", "psoriasis", "kronisk lymfatisk leukaemi", "brystkraeft",
    "multipel sklerose", "svaer astma", "myasthenia gravis")
  private val Statuses = Seq(
    "Medicinraadet anbefaler laegemidlet som mulig standardbehandling. Anbefalet",
    "Anbefalet til voksne patienter", "Anbefalet", "Delvist anbefalet til udvalgte patienter",
    "Delvist   anbefalet", "Delvist anbefalet som andenlinjebehandling",
    "Medicinraadet anbefaler ANBEFALET", "Ikke anbefalet", "Ikke anbefalet pga. pris",
    "Under vurdering")
  private val Months = Seq("januar", "februar", "marts", "april", "maj", "juni", "juli",
    "august", "september", "oktober", "november", "december")

  private def pickOf(xs: Seq[String], h: Column): Column =
    element_at(array(xs.map(lit): _*), (pmod(h, lit(xs.size.toLong)) + 1).cast("int"))

  /** Seeded recommendation cards for keys `k` with content salt `salt`:
    * status text, a "drug - indication" header, a Danish approval date
    * inside a Days-day window, free text with (mostly) one ATC code, and
    * a price in cents. */
  def cards(src: DataFrame, seed: Long): DataFrame = {
    def h(i: Int): Column = xxhash64(col("k"), col("salt"), lit(seed), lit(i))
    val letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ".map(_.toString)
    val date = date_add(lit(FirstDay).cast("date"), pmod(h(5), lit(Days.toLong)).cast("int"))
    val sep = pickOf(Seq(" - ", " – ", " — "), h(4))
    val atc = concat(pickOf(letters, h(6)), lpad(pmod(h(7), lit(100L)).cast("string"), 2, "0"),
      pickOf(letters, h(8)), pickOf(letters, h(9)), lpad(pmod(h(10), lit(100L)).cast("string"), 2, "0"))
    src.select(col("*"),
      pickOf(Statuses, h(1)).as("card"),
      when(pmod(h(11), lit(8L)) === 0, pickOf(Drugs, h(2)))
        .otherwise(concat(pickOf(Drugs, h(2)), sep, pickOf(Indications, h(3)))).as("header"),
      concat(lit("Godkendt den "), dayofmonth(date).cast("string"), lit(". "),
        element_at(array(Months.map(lit): _*), month(date)), lit(" "),
        year(date).cast("string")).as("date_text"),
      when(pmod(h(12), lit(8L)) === 0, lit("ingen kode her"))
        .otherwise(concat(lit("Behandling med "), atc, lit(" godkendt"))).as("atc_text"),
      pmod(h(13), lit(1000000L)).as("cents"))
  }
}
