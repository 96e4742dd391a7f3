package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** Named snapshot refs (tags): resolution in VERSION AS OF, vacuum
  * protection ("retention by meaning"), restore-to-tag, the purge guard,
  * and the SQL TVF surface.
  */
class GraftRefsSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_refs_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)
  private def tdir(t: String) = s"$warehouse/db/$t"
  private def fsOf(t: String) = new org.apache.hadoop.fs.Path(tdir(t))
    .getFileSystem(spark.sessionState.newHadoopConf())

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft_rf", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_rf.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_rf.db")
  }

  test("tag resolves in VERSION AS OF; retarget; numeric names rejected") {
    sql("""CREATE TABLE graft_rf.db.t1 (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_rf.db.t1 VALUES (1, 'one')")        // v2
    sql("INSERT INTO graft_rf.db.t1 VALUES (2, 'two')")        // v3
    sql("SELECT * FROM graft_tag('graft_rf', 'db.t1', 'golden', 2)").collect()
    assert(sql("SELECT count(*) FROM graft_rf.db.t1 VERSION AS OF 'golden'")
      .collect().head.getLong(0) == 1)
    // default target = current snapshot; retarget moves the name
    sql("SELECT * FROM graft_tag('graft_rf', 'db.t1', 'golden')").collect()
    assert(sql("SELECT count(*) FROM graft_rf.db.t1 VERSION AS OF 'golden'")
      .collect().head.getLong(0) == 2)
    val refs = sql("SELECT * FROM graft_refs('graft_rf', 'db.t1')").collect()
    assert(refs.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("golden", 3L)))
    intercept[Exception](GraftRefs.set(fsOf("t1"),
      new org.apache.hadoop.fs.Path(tdir("t1")), "123", 2L))
    intercept[Exception] {
      sql("SELECT * FROM graft_rf.db.t1 VERSION AS OF 'no_such_tag'").collect()
    }
  }

  test("vacuum keeps tagged snapshots alive until the tag drops") {
    sql("""CREATE TABLE graft_rf.db.t2 (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_rf.db.t2 VALUES (1, 'keepme')")      // v2
    sql("SELECT * FROM graft_tag('graft_rf', 'db.t2', 'golden', 2)").collect()
    sql("INSERT OVERWRITE graft_rf.db.t2 VALUES (9, 'now')")    // v3
    val (expired, removed) =
      GraftMaintenance.vacuum(spark, TestTables.at(tdir("t2")), keepLast = 1)
    // v1 (empty) expires; v2 is TAGGED and survives with its file
    assert(expired == 1 && removed == 0,
      s"tagged v2 must survive vacuum (expired $expired, removed $removed)")
    assert(sql("SELECT v FROM graft_rf.db.t2 VERSION AS OF 'golden'")
      .collect().map(_.getString(0)).toSeq == Seq("keepme"))
    // dropping the tag releases it: the next vacuum expires v2 + its file
    sql("SELECT * FROM graft_drop_tag('graft_rf', 'db.t2', 'golden')").collect()
    val (expired2, removed2) =
      GraftMaintenance.vacuum(spark, TestTables.at(tdir("t2")), keepLast = 1)
    assert(expired2 == 1 && removed2 == 1)
    intercept[Exception] {
      sql("SELECT * FROM graft_rf.db.t2 VERSION AS OF 'golden'").collect()
    }
    assert(sql("SELECT v FROM graft_rf.db.t2").collect()
      .map(_.getString(0)).toSeq == Seq("now"))
  }

  test("restore accepts a tag name; purge refuses while tags exist") {
    sql("""CREATE TABLE graft_rf.db.t3 (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_rf.db.t3 VALUES (1, 'original')")    // v2
    sql("SELECT * FROM graft_tag('graft_rf', 'db.t3', 'pre_restate', 2)").collect()
    sql("INSERT OVERWRITE graft_rf.db.t3 VALUES (1, 'broken')") // v3
    sql("SELECT * FROM graft_restore('graft_rf', 'db.t3', 'pre_restate')").collect()
    assert(sql("SELECT v FROM graft_rf.db.t3").collect()
      .map(_.getString(0)).toSeq == Seq("original"))
    // purge must refuse: the tag would keep purged bytes reachable
    val t3 = GraftTable.load(spark, "graft_rf", "db.t3")
    val e = intercept[Exception] {
      GraftMaintenance.purge(spark, "graft_rf", t3, "k = 1")
    }
    assert(e.getMessage.contains("pre_restate"))
    sql("SELECT * FROM graft_drop_tag('graft_rf', 'db.t3', 'pre_restate')").collect()
    GraftMaintenance.purge(spark, "graft_rf", t3, "k = 1")
    assert(GraftMaintenance.purgedCompletely(spark, t3, "k = 1"))
  }

  test("time-based retention: expire-by-age spares tags, branches, and the head") {
    sql("""CREATE TABLE graft_rf.db.t4 (k BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_rf.db.t4 VALUES (1, 'a')")           // v2
    sql("INSERT INTO graft_rf.db.t4 VALUES (2, 'b')")           // v3
    sql("SELECT * FROM graft_tag('graft_rf', 'db.t4', 'golden', 2)").collect()
    graft.GraftExtensions.register(spark)
    sql("SELECT * FROM graft_branch('graft_rf', 'db.t4', 'dev')").collect() // pins v3
    sql("INSERT INTO graft_rf.db.t4 VALUES (3, 'c')")           // v4 (head)
    // backdate EVERY manifest by an hour — by pure age, all would expire.
    // Commit wall-clock rides the !ts= meta stamp (round 13), so aging a
    // snapshot means rewriting the stamp, not touching the file mtime
    val dir = new java.io.File(tdir("t4"))
    dir.listFiles().filter(_.getName.startsWith("_graft_manifest"))
      .foreach { f =>
        val aged = (System.currentTimeMillis() - 3600 * 1000).toString
        val lines = java.nio.file.Files.readAllLines(f.toPath)
        val out = new java.util.ArrayList[String]()
        lines.forEach(l => out.add(
          if (l.startsWith(s"!${GraftTable.TsMetaKey}="))
            s"!${GraftTable.TsMetaKey}=$aged"
          else l))
        java.nio.file.Files.write(f.toPath, out)
      }
    val cutoff = new java.sql.Timestamp(
      System.currentTimeMillis() - 60 * 1000).toString
    val r = sql("SELECT * FROM graft_vacuum('graft_rf', 'db.t4', " +
      s"'$cutoff')").collect().head
    // v1 expires; v2 (tag), v3 (branch base) and v4 (head) survive age
    assert(r.getInt(0) == 1,
      s"expected exactly v1 to expire, got ${r.getInt(0)} manifests")
    assert(sql("SELECT count(*) FROM graft_rf.db.t4 VERSION AS OF 'golden'")
      .collect().head.getLong(0) == 1)
    assert(sql("SELECT count(*) FROM graft_rf.db.t4.branch_dev")
      .collect().head.getLong(0) == 2)
    assert(sql("SELECT count(*) FROM graft_rf.db.t4")
      .collect().head.getLong(0) == 3)
    // a cutoff in the FUTURE still cannot expire the current snapshot
    val future = new java.sql.Timestamp(
      System.currentTimeMillis() + 3600 * 1000).toString
    sql(s"SELECT * FROM graft_vacuum('graft_rf', 'db.t4', '$future')")
      .collect()
    assert(sql("SELECT count(*) FROM graft_rf.db.t4")
      .collect().head.getLong(0) == 3,
      "the head snapshot must survive any retention cutoff")
  }
}
