package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}

/** One table descriptor per load: every load path of a table (current,
  * `VERSION AS OF`, `TIMESTAMP AS OF`, branch) describes it from the same
  * props, a statement reads the props and schema files no more often than
  * it loads the table, and the maintenance verbs judge "history table" by
  * the loaded table, not by whether a props file exists.
  */
class GraftTableLoadSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_load_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFs].getName)
    spark.conf.set("spark.sql.catalog.graft_ld", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ld.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_ld.db")
    spark.conf.set("spark.sql.catalog.graft_cnt", classOf[CountingCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cnt.warehouse",
      s"countfs://$warehouse/counted")
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cnt.db")
  }

  private def catalog(name: String): TableCatalog =
    spark.sessionState.catalogManager.catalog(name).asInstanceOf[TableCatalog]

  test("current, VERSION AS OF, TIMESTAMP AS OF and branch loads carry the " +
    "same properties") {
    sql("""CREATE TABLE graft_ld.db.lp (
          |  id BIGINT GENERATED ALWAYS AS IDENTITY,
          |  v BIGINT,
          |  w BIGINT GENERATED ALWAYS AS (v * 2))
          |TBLPROPERTIES('history'='true', 'retention.keep-last'='3')""".stripMargin)
    sql("INSERT INTO graft_ld.db.lp (v) VALUES (1), (2)")
    sql("SELECT * FROM graft_branch('graft_ld', 'db.lp', 'audit')").collect()
    val cat = catalog("graft_ld")
    val ident = Identifier.of(Array("db"), "lp")
    def props(t: org.apache.spark.sql.connector.catalog.Table): Map[String, String] =
      t.properties().asScala.toMap - "pinned-version" - "branch"
    val current = props(cat.loadTable(ident))
    assert(current.contains(GraftIdentity.ColProp) &&
      current.keys.exists(_.startsWith(GraftGenerated.Prefix)) &&
      current.contains(GraftRetention.KeepLastProp), current.toString)
    val commitMicros = GraftTable.commitTimeMillis(
      org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(s"$warehouse/db/lp"), 2L) * 1000L
    val loads = Map(
      "VERSION AS OF" -> cat.loadTable(ident, "2"),
      "TIMESTAMP AS OF" -> cat.loadTable(ident, commitMicros),
      "branch" -> cat.loadTable(Identifier.of(Array("db", "lp"), "branch_audit")))
    loads.foreach { case (how, t) =>
      assert(props(t) == current, s"$how load: ${props(t)} vs $current")
    }
  }

  // ---- metadata reads per load ------------------------------------------

  private def reads(body: => Any): (Int, Int, Int) = {
    CountingFs.reset()
    body
    (CountingFs.loads.get, CountingFs.opened(GraftTable.PropsFile),
      CountingFs.opened(GraftTable.MetaFile))
  }

  /** `copies`: opens of each metadata file a verb makes to copy its bytes
    * elsewhere (a mirror ships them verbatim) rather than to read them.
    */
  private def assertOneReadPerLoad[T](what: String, copies: Int = 0)
                                     (body: => T): T = {
    var result: Option[T] = None
    val (loads, props, schema) = reads { result = Some(body) }
    assert(loads > 0, s"$what: no table load counted")
    assert(props <= loads + copies && schema <= loads + copies,
      s"$what: $loads loads, $props props reads, $schema schema reads")
    result.get
  }

  test("INSERT and graft_compact read the metadata files once per table load") {
    sql("CREATE TABLE graft_cnt.db.flat (id BIGINT, v STRING) " +
      "TBLPROPERTIES('history'='true')")
    sql("""CREATE TABLE graft_cnt.db.daily (id BIGINT, ts TIMESTAMP)
          |PARTITIONED BY (days(ts)) TBLPROPERTIES('history'='true')""".stripMargin)
    for (round <- 0 to 1) {
      assertOneReadPerLoad(s"INSERT flat #$round")(
        sql(s"INSERT INTO graft_cnt.db.flat SELECT id, 'x' " +
          s"FROM range(${round * 10}, ${round * 10 + 10})"))
      assertOneReadPerLoad(s"INSERT daily #$round")(
        sql(s"""INSERT INTO graft_cnt.db.daily VALUES
               |(${round * 10 + 1}, TIMESTAMP '2026-08-01 01:00:00'),
               |(${round * 10 + 2}, TIMESTAMP '2026-08-02 01:00:00')""".stripMargin))
    }
    for (t <- Seq("flat", "daily")) {
      assertOneReadPerLoad(s"graft_compact $t")(
        sql(s"SELECT * FROM graft_compact('graft_cnt', 'db.$t')").collect())
    }
    assert(sql("SELECT count(*) FROM graft_cnt.db.flat").head().getLong(0) == 20)
    assert(sql("SELECT sum(id) FROM graft_cnt.db.daily").head().getLong(0) ==
      1 + 2 + 11 + 12)
  }

  test("graft_fsck, graft_sync_identity, graft_clone, graft_export and " +
    "graft_replicate read the metadata files once per table load") {
    sql("""CREATE TABLE graft_cnt.db.vb
          |(id BIGINT GENERATED BY DEFAULT AS IDENTITY, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_cnt.db.vb VALUES (500, 'explicit')")
    val out = Files.createTempDirectory("graft_load_out").toFile.getAbsolutePath
    def run(q: String) = sql(q).collect().head
    assertOneReadPerLoad("graft_fsck")(
      run("SELECT * FROM graft_fsck('graft_cnt', 'db.vb')"))
    val sync = assertOneReadPerLoad("graft_sync_identity")(
      run("SELECT * FROM graft_sync_identity('graft_cnt', 'db.vb')"))
    assert(sync.getLong(1) == 500L, sync.toString)
    val clone = assertOneReadPerLoad("graft_clone")(
      run("SELECT * FROM graft_clone('graft_cnt', 'db.vb', 'db.vb_c')"))
    assert(clone.getInt(0) == 1, clone.toString)
    val exp = assertOneReadPerLoad("graft_export")(
      run(s"SELECT * FROM graft_export('graft_cnt', 'db.vb', '$out/exp')"))
    assert(exp.getLong(2) == 3L, exp.toString)
    // a fresh mirror receives one byte copy of the props and schema files
    val mirror = assertOneReadPerLoad("graft_replicate", copies = 1)(
      run(s"SELECT * FROM graft_replicate('graft_cnt', 'db.vb', '$out/mir')"))
    assert(mirror.getLong(3) == 3L, mirror.toString)
    assert(sql("SELECT v FROM graft_cnt.db.vb_c").collect().map(_.getString(0))
      .toSeq == Seq("explicit"))
  }

  test("ALTER TABLE reads the props file once before its write") {
    sql("""CREATE TABLE graft_cnt.db.alt (id INT, a STRING, b STRING, c STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_cnt.db.alt VALUES (1, 'a', 'b', 'c')")
    val cat = catalog("graft_cnt")
    val ident = Identifier.of(Array("db"), "alt")
    import org.apache.spark.sql.connector.catalog.TableChange
    val (loads, props, schema) = reads(cat.alterTable(ident,
      TableChange.deleteColumn(Array("a"), false),
      TableChange.renameColumn(Array("b"), "b2"),
      TableChange.updateColumnType(Array("id"),
        org.apache.spark.sql.types.LongType)))
    // the one read before the write, plus the reload that returns the
    // altered table (counted as a load; it reads its schema on first use)
    assert(loads == 1 && props == 2 && schema <= 2,
      s"$loads loads, $props props reads, $schema schema reads")
    assert(spark.table("graft_cnt.db.alt").columns.toSeq == Seq("id", "b2", "c"))
    assert(sql("SELECT b2 FROM graft_cnt.db.alt").head().getString(0) == "b")
  }

  // ---- history verbs on plain layout tables ------------------------------

  test("graft_vacuum refuses a partitioned plain table") {
    sql("CREATE TABLE graft_ld.db.pv (id BIGINT, p STRING) PARTITIONED BY (p)")
    sql("INSERT INTO graft_ld.db.pv VALUES (1, 'a'), (2, 'b')")
    val e = intercept[IllegalArgumentException](
      sql("SELECT * FROM graft_vacuum('graft_ld', 'db.pv', 1)").collect())
    assert(e.getMessage.contains("not a history table"), e.getMessage)
    assert(sql("SELECT count(*) FROM graft_ld.db.pv").head().getLong(0) == 2)
  }

  test("graft_restore refuses a bucketed plain table") {
    sql("CREATE TABLE graft_ld.db.br (id BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, id))")
    sql("INSERT INTO graft_ld.db.br VALUES (1, 'a'), (2, 'b')")
    val e = intercept[IllegalArgumentException](
      sql("SELECT * FROM graft_restore('graft_ld', 'db.br', 1)").collect())
    assert(e.getMessage.contains("not a history table"), e.getMessage)
  }
}
