package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** Manifest segments: commits write O(delta) metadata (new entries + one
  * ref line per live segment), unchanged segments are reused by reference,
  * the list compacts at MaxSegments, vacuum expires only unreferenced
  * segments, and inline (pre-segment) manifests keep reading.
  */
class GraftSegmentSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_seg_wh").toFile.getAbsolutePath

  private def sql(q: String) = spark.sql(q)
  private def dirOf(t: String) = new Path(s"$warehouse/db/$t")
  private def fsOf(t: String) =
    dirOf(t).getFileSystem(spark.sessionState.newHadoopConf())
  private def refs(t: String, v: Long): Seq[String] =
    GraftTable.segmentRefs(fsOf(t), dirOf(t), v)
  private def latest(t: String): Long =
    GraftTable.manifestVersions(fsOf(t), dirOf(t)).last
  private def segsOnDisk(t: String): Set[String] =
    fsOf(t).listStatus(dirOf(t)).toSeq
      .filter(st => st.isFile &&
        st.getPath.getName.startsWith(GraftTable.SegmentPrefix))
      .map(_.getPath.getName).toSet

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_seg", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_seg.warehouse", warehouse)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_seg.db")
  }

  test("appends reuse prior segments and write only the delta") {
    sql("""CREATE TABLE graft_seg.db.t (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_seg.db.t SELECT id FROM range(0, 100)")
    val v1 = latest("t")
    val segs1 = refs("t", v1)
    assert(segs1.nonEmpty, "a committed version must be segment-backed")
    sql("INSERT INTO graft_seg.db.t SELECT id FROM range(100, 200)")
    val v2 = latest("t")
    val segs2 = refs("t", v2)
    assert(segs1.forall(segs2.contains),
      s"append must REUSE the previous segments ($segs1 vs $segs2)")
    assert((segs2.toSet -- segs1.toSet).size == 1,
      "append must add exactly one residual segment")
    // the residual holds only the delta's files
    val prevFiles = GraftTable.readFullEntries(fsOf("t"), dirOf("t"), v1)
      .map(e => new Path(e.file).getName).toSet
    val allFiles = GraftTable.readFullEntries(fsOf("t"), dirOf("t"), v2)
      .map(e => new Path(e.file).getName).toSet
    assert(prevFiles.subsetOf(allFiles) && allFiles.size > prevFiles.size)
    assert(spark.table("graft_seg.db.t").count() == 200)
    assert(sql(s"SELECT count(*) FROM graft_seg.db.t VERSION AS OF $v1")
      .head().getLong(0) == 100)
  }

  test("COW delete rewrites only the touched segments, reuses the rest") {
    sql("""CREATE TABLE graft_seg.db.c (id BIGINT, v STRING)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    // two key-disjoint appends → two segments
    sql("INSERT INTO graft_seg.db.c SELECT id, 'a' FROM range(0, 100)")
    sql("INSERT INTO graft_seg.db.c SELECT id, 'b' FROM range(1000, 1100)")
    val vBefore = latest("c")
    val before = refs("c", vBefore).toSet
    sql("DELETE FROM graft_seg.db.c WHERE id = 1050") // touches 2nd append only
    val after = refs("c", latest("c")).toSet
    assert((before & after).nonEmpty,
      s"untouched segments must be reused across the COW commit ($before vs $after)")
    assert(spark.table("graft_seg.db.c").count() == 199)
  }

  test("segment list compacts at MaxSegments; reads stay exact") {
    sql("""CREATE TABLE graft_seg.db.many (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    (0 until GraftTable.MaxSegments + 5).foreach { i =>
      sql(s"INSERT INTO graft_seg.db.many VALUES ($i)")
    }
    val n = refs("many", latest("many")).size
    assert(n <= GraftTable.MaxSegments,
      s"segment list must stay bounded ($n > ${GraftTable.MaxSegments})")
    assert(spark.table("graft_seg.db.many").count() ==
      GraftTable.MaxSegments + 5)
  }

  test("vacuum expires only unreferenced segments") {
    sql("""CREATE TABLE graft_seg.db.vx (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_seg.db.vx SELECT id FROM range(0, 50)")
    sql("DELETE FROM graft_seg.db.vx WHERE id < 10") // rewrites the segment
    sql("INSERT INTO graft_seg.db.vx SELECT id FROM range(100, 150)")
    assert(segsOnDisk("vx").size >= 3)
    GraftMaintenance.vacuum(spark, TestTables.at(s"$warehouse/db/vx"), keepLast = 1)
    val live = refs("vx", latest("vx")).toSet
    assert(segsOnDisk("vx") == live,
      s"vacuum must leave exactly the referenced segments " +
        s"(disk=${segsOnDisk("vx")} refs=$live)")
    assert(spark.table("graft_seg.db.vx").count() == 90)
  }

  test("inline (pre-segment) manifests read unchanged and migrate on write") {
    sql("""CREATE TABLE graft_seg.db.legacy (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    sql("INSERT INTO graft_seg.db.legacy VALUES (1), (2), (3)")
    val fs = fsOf("legacy"); val d = dirOf("legacy")
    val v = latest("legacy")
    // rewrite the current manifest INLINE (the pre-segment format)
    val entries = GraftTable.readFullEntries(fs, d, v)
    val lines = entries.map { e =>
      d.toUri.relativize(new Path(e.file).toUri).getPath
    }.sorted.mkString("\n")
    fs.delete(GraftTable.manifestPath(d, v), false)
    val out = fs.create(GraftTable.manifestPath(d, v), true)
    try out.write(lines.getBytes("UTF-8")) finally out.close()
    assert(refs("legacy", v).isEmpty, "hand-written manifest is inline")
    assert(spark.table("graft_seg.db.legacy").count() == 3)
    // the next commit migrates to segments and keeps every row
    sql("INSERT INTO graft_seg.db.legacy VALUES (4)")
    assert(refs("legacy", latest("legacy")).nonEmpty)
    assert(spark.table("graft_seg.db.legacy").count() == 4)
  }
}
