package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Registered external tables (`graft_register`): metadata-only adoption of
  * an existing table directory — pointer resolution on every verb, the
  * DROP-is-unregister contract, rename moves only the stub, refusal matrix.
  */
class GraftRegisterSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_rg_wh").toFile.getAbsolutePath
  private lazy val outside =
    Files.createTempDirectory("graft_rg_ext").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)
  private def fs =
    new Path(warehouse).getFileSystem(
      spark.sessionState.newHadoopConf())

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft_rg2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_rg2.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_rg2.db")
  }

  /** A self-contained external table dir with ids [0, n). */
  private def makeExternal(name: String, n: Int): String = {
    sql(s"""CREATE TABLE graft_rg2.db.$name (id BIGINT, v STRING)
           |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, n).toDF("id").withColumn("v", concat(lit("r"), col("id")))
      .writeTo(s"graft_rg2.db.$name").append()
    val ext = s"$outside/$name"
    GraftClone.clone(spark, TestTables.at(s"$warehouse/db/$name"), ext,
      shallow = false)
    sql(s"DROP TABLE graft_rg2.db.$name")
    ext
  }

  test("register serves the snapshot; stub is exactly one pointer file") {
    val ext = makeExternal("t1", 100)
    val r = sql(s"SELECT * FROM graft_register('graft_rg2', 'db.reg1', '$ext')")
      .collect().head
    assert(r.getString(0) == "db.reg1" && r.getString(1) == ext)
    assert(spark.table("graft_rg2.db.reg1").count() == 100)
    val stub = fs.listStatus(new Path(s"$warehouse/db/reg1"))
      .map(_.getPath.getName).toSet
    assert(stub == Set(GraftTable.LocationFile),
      s"warehouse must hold only the pointer, got $stub")
    // the registered table participates in listTables
    assert(sql("SHOW TABLES IN graft_rg2.db").collect()
      .map(_.getString(1)).contains("reg1"))
  }

  test("DML and time travel follow the pointer; DROP unregisters") {
    val ext = makeExternal("t2", 50)
    sql(s"SELECT * FROM graft_register('graft_rg2', 'db.reg2', '$ext')")
    sql("DELETE FROM graft_rg2.db.reg2 WHERE id >= 40")
    assert(spark.table("graft_rg2.db.reg2").count() == 40)
    // the delete's COW rewrite landed at the external location
    assert(fs.listStatus(new Path(s"$warehouse/db/reg2"))
      .map(_.getPath.getName).toSet == Set(GraftTable.LocationFile))
    // time travel reaches the pre-delete snapshot through the pointer
    assert(sql("SELECT COUNT(*) FROM graft_rg2.db.reg2 VERSION AS OF 1")
      .collect().head.getLong(0) == 50)
    sql("DROP TABLE graft_rg2.db.reg2")
    assert(!spark.catalog.tableExists("graft_rg2.db.reg2"))
    assert(fs.exists(new Path(ext, GraftTable.MetaFile)),
      "DROP on a registered table must not delete external bytes")
    // re-registerable, restated state intact
    sql(s"SELECT * FROM graft_register('graft_rg2', 'db.reg2', '$ext')")
    assert(spark.table("graft_rg2.db.reg2").count() == 40)
  }

  test("rename moves only the stub; external bytes stay put") {
    val ext = makeExternal("t3", 10)
    sql(s"SELECT * FROM graft_register('graft_rg2', 'db.reg3', '$ext')")
    sql("ALTER TABLE graft_rg2.db.reg3 RENAME TO db.reg3b")
    assert(spark.table("graft_rg2.db.reg3b").count() == 10)
    assert(!spark.catalog.tableExists("graft_rg2.db.reg3"))
    assert(fs.exists(new Path(ext, GraftTable.MetaFile)))
    assert(fs.listStatus(new Path(s"$warehouse/db/reg3b"))
      .map(_.getPath.getName).toSet == Set(GraftTable.LocationFile))
  }

  test("graft_clone of a registered table lands in the catalog's warehouse") {
    val ext = makeExternal("t5", 20)
    sql(s"SELECT * FROM graft_register('graft_rg2', 'db.reg5', '$ext')")
    val r = sql("SELECT * FROM graft_clone('graft_rg2', 'db.reg5', " +
      "'db.reg5c', 'shallow')").collect().head
    assert(r.getInt(0) > 0 && r.getLong(1) == 0L, r.toString)
    assert(fs.exists(new Path(s"$warehouse/db/reg5c", GraftTable.MetaFile)),
      "the clone must be a table of the warehouse")
    assert(spark.table("graft_rg2.db.reg5c").count() == 20)
    assert(spark.table("graft_rg2.db.reg5c").exceptAll(
      spark.table("graft_rg2.db.reg5")).isEmpty)
  }

  test("refusals: non-table location, occupied name, view name") {
    val e1 = intercept[Exception] {
      sql(s"SELECT * FROM graft_register('graft_rg2', 'db.bad', '$outside/nope')")
        .collect()
    }
    assert(e1.getMessage.contains("not a graft table"))
    val ext = makeExternal("t4", 5)
    sql("""CREATE TABLE graft_rg2.db.busy (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    val e2 = intercept[Exception] {
      sql(s"SELECT * FROM graft_register('graft_rg2', 'db.busy', '$ext')")
        .collect()
    }
    assert(e2.getMessage.toLowerCase.contains("already exists"))
    sql("SELECT * FROM graft_create_view('graft_rg2', 'db.vbusy', " +
      "'SELECT id FROM graft_rg2.db.busy')")
    val e3 = intercept[Exception] {
      sql(s"SELECT * FROM graft_register('graft_rg2', 'db.vbusy', '$ext')")
        .collect()
    }
    assert(e3.getMessage.contains("VIEW"))
    // double-register under a second name IS allowed but each name's DROP
    // only unregisters — external bytes shared, never deleted
    sql(s"SELECT * FROM graft_register('graft_rg2', 'db.t4a', '$ext')")
    sql(s"SELECT * FROM graft_register('graft_rg2', 'db.t4b', '$ext')")
    sql("DROP TABLE graft_rg2.db.t4a")
    assert(spark.table("graft_rg2.db.t4b").count() == 5)
  }

  test("two racing registers serialize on the commit primitive: one " +
    "winner, one loud TableAlreadyExists, the pointer never clobbered") {
    // DDL-time pointer installs take the SAME pluggable atomic create as
    // manifest commits (round 12): on the local fs the link primitive is
    // genuinely atomic, so whatever the interleaving — loser caught by
    // the pre-check or by the exclusive install — exactly one register
    // wins and the stub holds exactly the winner's location
    val extA = makeExternal("regrace_a", 5)
    val extB = makeExternal("regrace_b", 7)
    val cat = GraftCatalog.named(spark, "graft_rg2")
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "regrace")
    val start = new java.util.concurrent.CyclicBarrier(2)
    val outcomes =
      new java.util.concurrent.ConcurrentHashMap[Int, Option[Throwable]]()
    val threads = Seq(extA, extB).zipWithIndex.map { case (loc, i) =>
      val t = new Thread(() => {
        start.await(30, java.util.concurrent.TimeUnit.SECONDS)
        outcomes.put(i,
          try { cat.registerTable(ident, loc); None }
          catch { case e: Throwable => Some(e) })
      })
      t.start(); t
    }
    threads.foreach(_.join(30000))
    val losers = (0 to 1).flatMap(i => outcomes.get(i).map(i -> _))
    assert(losers.size == 1, s"exactly one register must lose: $outcomes")
    assert(losers.head._2.isInstanceOf[
      org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException],
      losers.head._2.toString)
    val winner = 1 - losers.head._1
    val ptr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        s"$warehouse/db/regrace/${GraftTable.LocationFile}")), "UTF-8")
    assert(ptr == Seq(extA, extB)(winner),
      s"pointer '$ptr' must be exactly the winner's location")
    assert(spark.table("graft_rg2.db.regrace").count() == Seq(5L, 7L)(winner))
  }
}
