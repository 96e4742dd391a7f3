package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Catalog views: stored SQL definitions (DSv2 ViewCatalog storage),
  * created/listed/dropped through the graft_*view TVFs, and read BOTH
  * ways — `graft_view(cat, v)` on any session, and natively as
  * `SELECT ... FROM cat.db.v` through the GraftViewSubstitution analyzer
  * rule (this suite's session installs graft.GraftExtensions).
  */
class GraftViewsSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_vw_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft_vw", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_vw.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_vw.db")
  }

  test("create, read-through (TVF and native), snapshot tracking") {
    sql("""CREATE TABLE graft_vw.db.ev (id BIGINT, kind STRING, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 100).toDF("id")
      .withColumn("kind", when(col("id") % 2 === 0, "a").otherwise("b"))
      .withColumn("v", col("id") * 3)
      .writeTo("graft_vw.db.ev").append()
    sql("""SELECT * FROM graft_create_view('graft_vw', 'db.ev_a',
          |'SELECT id, v FROM graft_vw.db.ev WHERE kind = ''a''')""".stripMargin)
      .collect()
    assert(sql("SELECT * FROM graft_view('graft_vw', 'db.ev_a')").count() == 50)
    // NATIVE resolution through the analyzer rule (extensions installed)
    assert(sql("SELECT * FROM graft_vw.db.ev_a").count() == 50)
    // a view is a DEFINITION, not a snapshot: new base rows appear
    spark.range(100, 120).toDF("id")
      .withColumn("kind", lit("a")).withColumn("v", col("id") * 3)
      .writeTo("graft_vw.db.ev").append()
    assert(sql("SELECT * FROM graft_vw.db.ev_a").count() == 70)
    // aggregation through the view matches the direct query; the view
    // composes in joins like any relation
    val viaView = sql("SELECT SUM(v) AS s FROM graft_vw.db.ev_a")
      .collect()(0).getLong(0)
    val direct = sql(
      "SELECT SUM(v) AS s FROM graft_vw.db.ev WHERE kind = 'a'")
      .collect()(0).getLong(0)
    assert(viaView == direct)
    assert(sql(
      """SELECT COUNT(*) FROM graft_vw.db.ev_a x
        |JOIN graft_vw.db.ev_a y ON x.id = y.id""".stripMargin)
      .collect()(0).getLong(0) == 70)
  }

  test("views over views; listing; drop") {
    sql("""SELECT * FROM graft_create_view('graft_vw', 'db.ev_top',
          |'SELECT id FROM graft_vw.db.ev_a WHERE v > 60')""".stripMargin)
      .collect()
    assert(sql("SELECT * FROM graft_vw.db.ev_top").count() ==
      sql("SELECT * FROM graft_vw.db.ev WHERE kind = 'a' AND v > 60").count())
    val listed = sql("SELECT * FROM graft_views('graft_vw', 'db')").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(listed.keySet == Set("ev_a", "ev_top"))
    assert(listed("ev_a") == "id,v")
    assert(sql("SELECT * FROM graft_drop_view('graft_vw', 'db.ev_top')")
      .collect()(0).getBoolean(0))
    intercept[Exception](sql("SELECT * FROM graft_vw.db.ev_top").collect())
    // dropping a gone view reports false instead of failing
    assert(!sql("SELECT * FROM graft_drop_view('graft_vw', 'db.ev_top')")
      .collect()(0).getBoolean(0))
  }

  test("creation validates the body and refuses collisions") {
    // a broken body fails at CREATE, not first read
    intercept[Exception](sql(
      "SELECT * FROM graft_create_view('graft_vw', 'db.bad', 'SELECT nope FROM graft_vw.db.ev')")
      .collect())
    // view name colliding with a table refuses
    intercept[Exception](sql(
      "SELECT * FROM graft_create_view('graft_vw', 'db.ev', 'SELECT 1 AS x')")
      .collect())
    // duplicate view refuses
    intercept[Exception](sql(
      "SELECT * FROM graft_create_view('graft_vw', 'db.ev_a', 'SELECT 1 AS x')")
      .collect())
    // table name colliding with a view refuses
    intercept[Exception](sql("CREATE TABLE graft_vw.db.ev_a (x BIGINT)"))
  }

  test("unqualified body resolves against the RECORDED context, not the reader's") {
    // a decoy table named `ev` in the READER's current catalog — if view
    // resolution leaked the reader's context, the view would read this
    spark.sql("DROP TABLE IF EXISTS default.ev")
    spark.range(0, 3).toDF("id")
      .withColumn("kind", lit("zz")).withColumn("v", lit(-1L))
      .write.saveAsTable("default.ev")
    try {
      sql("""SELECT * FROM graft_create_view('graft_vw', 'db.ev_unq',
            |'SELECT kind, COUNT(*) AS n FROM ev GROUP BY kind')""".stripMargin)
        .collect()
      assert(spark.sessionState.catalogManager.currentCatalog.name() ==
        "spark_catalog", "precondition: reader session is NOT in graft_vw")
      val kinds = sql("SELECT * FROM graft_vw.db.ev_unq").collect()
        .map(_.getString(0)).toSet
      assert(kinds == Set("a", "b"),
        s"view read the reader's default.ev decoy, got $kinds")
      val tvfKinds = sql("SELECT * FROM graft_view('graft_vw', 'db.ev_unq')")
        .collect().map(_.getString(0)).toSet
      assert(tvfKinds == Set("a", "b"))
      // reader context is restored after the pinned resolution
      assert(spark.sessionState.catalogManager.currentCatalog.name() ==
        "spark_catalog")
    } finally spark.sql("DROP TABLE IF EXISTS default.ev")
  }

  test("native CREATE/SHOW/DROP VIEW DDL routes to the graft catalog") {
    sql("""CREATE VIEW graft_vw.db.ddl_v AS
          |SELECT kind, SUM(v) AS sv FROM graft_vw.db.ev GROUP BY kind""".stripMargin)
    assert(sql("SELECT * FROM graft_vw.db.ddl_v").count() == 2)
    // IF NOT EXISTS is a no-op on an existing view; plain CREATE refuses
    sql("CREATE VIEW IF NOT EXISTS graft_vw.db.ddl_v AS SELECT 1 AS x")
    assert(sql("SELECT * FROM graft_vw.db.ddl_v").columns.toSeq ==
      Seq("kind", "sv"))
    intercept[Exception](
      sql("CREATE VIEW graft_vw.db.ddl_v AS SELECT 1 AS x"))
    // OR REPLACE swaps the definition
    sql("""CREATE OR REPLACE VIEW graft_vw.db.ddl_v AS
          |SELECT kind FROM graft_vw.db.ev GROUP BY kind""".stripMargin)
    assert(sql("SELECT * FROM graft_vw.db.ddl_v").columns.toSeq == Seq("kind"))
    val shown = sql("SHOW VIEWS IN graft_vw.db").collect()
      .map(_.getString(1)).toSet
    assert(shown.contains("ddl_v"))
    sql("DROP VIEW graft_vw.db.ddl_v")
    intercept[Exception](sql("SELECT * FROM graft_vw.db.ddl_v").collect())
    // IF EXISTS tolerates absence; bare DROP refuses
    sql("DROP VIEW IF EXISTS graft_vw.db.ddl_v")
    intercept[Exception](sql("DROP VIEW graft_vw.db.ddl_v"))
    // session-catalog DDL is untouched by the rerouting rule
    spark.sql("CREATE OR REPLACE TEMP VIEW ddl_tmp AS SELECT 1 AS x")
    assert(spark.sql("SELECT * FROM ddl_tmp").count() == 1)
    spark.sql("DROP VIEW ddl_tmp")
  }

  test("ALTER VIEW SET/UNSET TBLPROPERTIES routes to the graft catalog") {
    sql("CREATE VIEW graft_vw.db.prop_v AS SELECT id FROM graft_vw.db.ev")
    sql("ALTER VIEW graft_vw.db.prop_v SET TBLPROPERTIES ('team'='ml', 'tier'='gold')")
    def props(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      GraftCatalog.named(spark, "graft_vw")
        .loadView(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("db"), "prop_v"))
        .properties().asScala.toMap
    }
    assert(props() == Map("team" -> "ml", "tier" -> "gold"))
    sql("ALTER VIEW graft_vw.db.prop_v UNSET TBLPROPERTIES ('tier')")
    assert(props() == Map("team" -> "ml"))
    // the definition still reads after property churn
    assert(sql("SELECT * FROM graft_vw.db.prop_v").count() > 0)
    sql("DROP VIEW graft_vw.db.prop_v")
  }

  test("recursive view definitions fail loudly, not with a stack overflow") {
    sql("CREATE VIEW graft_vw.db.rec AS SELECT id FROM graft_vw.db.ev")
    // the REPLACE body resolves against the OLD stored definition, so it
    // validates; the first READ then hits the cycle guard
    sql("CREATE OR REPLACE VIEW graft_vw.db.rec AS " +
      "SELECT id FROM graft_vw.db.rec")
    val e = intercept[Exception](
      sql("SELECT * FROM graft_vw.db.rec").collect())
    assert(e.getMessage != null && e.getMessage.contains("recursive"),
      s"expected a loud recursion error, got: ${e.getMessage}")
    sql("DROP VIEW graft_vw.db.rec")
  }

  test("base-table evolution that changes the view's shape fails loudly") {
    sql("""CREATE TABLE graft_vw.db.drift (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    spark.range(0, 5).toDF("id").withColumn("v", col("id") * 2)
      .writeTo("graft_vw.db.drift").append()
    sql("CREATE VIEW graft_vw.db.drift_v AS SELECT * FROM graft_vw.db.drift")
    assert(sql("SELECT * FROM graft_vw.db.drift_v").columns.length == 2)
    sql("ALTER TABLE graft_vw.db.drift ADD COLUMNS (w BIGINT)")
    val e = intercept[Exception](
      sql("SELECT * FROM graft_vw.db.drift_v").collect())
    assert(e.getMessage.contains("REPLACE"),
      s"drift must point at re-create, got: ${e.getMessage}")
    // re-creating adopts the new shape
    sql("""CREATE OR REPLACE VIEW graft_vw.db.drift_v AS
          |SELECT * FROM graft_vw.db.drift""".stripMargin)
    assert(sql("SELECT * FROM graft_vw.db.drift_v").columns.length == 3)
    sql("DROP VIEW graft_vw.db.drift_v")
    sql("DROP TABLE graft_vw.db.drift")
  }

  test("views track lakehouse verbs on the base (DELETE, time travel base)") {
    val before = sql("SELECT COUNT(*) AS n FROM graft_vw.db.ev_a")
      .collect()(0).getLong(0)
    sql("DELETE FROM graft_vw.db.ev WHERE kind = 'a' AND id < 10")
    assert(sql("SELECT COUNT(*) AS n FROM graft_vw.db.ev_a")
      .collect()(0).getLong(0) == before - 5)
  }
}
