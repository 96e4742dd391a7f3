package graft.sources

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The pluggable atomic-commit primitive ([[GraftCommitPrimitive]]).
  *
  * The load-bearing claim: on a filesystem whose `create(overwrite=false)`
  * is CHECK-THEN-OPEN (Hadoop's local FS; any store without a namespace
  * server), the naive create-exclusive primitive lets two racing
  * committers BOTH win — the silent snapshot clobber — while the
  * hard-link and conditional-PUT primitives serialize them: exactly one
  * winner, the loser sees [[FileAlreadyExistsException]] (the conflict
  * type the optimistic-concurrency loop keys on), and the installed bytes
  * are exactly the winner's, never a torn mix.
  *
  * And the manifest is the whole commit: every commit verb states its kind
  * (`!kind=`) and wall-clock (`!ts=`) inside the manifest's atomic create,
  * and writes no second per-commit file.
  */
class GraftCommitProtocolSpec extends SparkSpec {

  private val root = Files.createTempDirectory("graft_commitproto").toString

  private def freshFs(): CheckThenOpenFs = {
    val fs = new CheckThenOpenFs
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  /** Race two committers over `primitive` on the check-then-open fs;
    * returns (per-thread outcome: None=won / Some(conflict), final bytes).
    */
  private def race(primitive: CommitPrimitive, target: Path,
                   syncInCheck: Boolean): (Seq[Option[Throwable]], String) = {
    val fs = freshFs()
    CheckThenOpenFs.barrier =
      if (syncInCheck) Some(new CyclicBarrier(2)) else None
    val start = new CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentHashMap[Int, Option[Throwable]]()
    val threads = (0 to 1).map { i =>
      val t = new Thread(() => {
        start.await()
        outcomes.put(i,
          try { primitive.commit(fs, target, s"committer-$i".getBytes("UTF-8")); None }
          catch { case e: Throwable => Some(e) })
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(30000))
    CheckThenOpenFs.barrier = None
    val bytes = new String(Files.readAllBytes(
      java.nio.file.Paths.get(target.toUri.getPath)), "UTF-8")
    ((0 to 1).map(outcomes.get), bytes)
  }

  test("the HDFS-shaped create primitive DOUBLE-WINS on a POSIX-rename " +
    "filesystem — the documented hazard link/condput exist to close") {
    // rename(2) silently overwrites an existing destination, so without
    // an atomic namespace both committers' renames 'succeed' (on HDFS
    // the second rename would return false and lose loudly). Same
    // silent-clobber class as the old check-then-open window — which is
    // why 'create' is never the default on file:// stores
    val (outcomes, _) = race(new CreateExclusiveCommit,
      new Path(s"$root/naive.txt"), syncInCheck = true)
    assert(outcomes.forall(_.isEmpty),
      s"both committers must 'succeed' — no loser, silent clobber: $outcomes")
  }

  test("the hard-link primitive serializes the same race: one winner, " +
    "loser conflicts, bytes are the winner's") {
    val target = new Path(s"$root/link.txt")
    val (outcomes, bytes) = race(new HardLinkCommit, target, syncInCheck = false)
    val losers = outcomes.flatten
    assert(losers.size == 1, s"exactly one loser: $outcomes")
    assert(losers.head.isInstanceOf[FileAlreadyExistsException], losers.head)
    val winner = outcomes.indexWhere(_.isEmpty)
    assert(bytes == s"committer-$winner",
      s"installed bytes must be the winner's, untorn: '$bytes'")
  }

  test("the conditional-PUT primitive serializes it too (the object-store " +
    "shape, driven through the local generation shim)") {
    val target = new Path(s"$root/condput.txt")
    val (outcomes, bytes) = race(
      new ConditionalPutCommit(new LocalGenerationStore), target,
      syncInCheck = false)
    val losers = outcomes.flatten
    assert(losers.size == 1, s"exactly one loser: $outcomes")
    assert(losers.head.isInstanceOf[FileAlreadyExistsException], losers.head)
    val winner = outcomes.indexWhere(_.isEmpty)
    assert(bytes == s"committer-$winner", s"'$bytes'")
  }

  test("two racing writeFullEntries serialize end-to-end: the loser's " +
    "conflict satisfies the commitRetrying contract") {
    val fs = freshFs()
    val dir = new Path(s"$root/table")
    fs.mkdirs(dir)
    val start = new CyclicBarrier(2)
    val outcomes = new java.util.concurrent.ConcurrentHashMap[Int, Option[Throwable]]()
    val threads = (0 to 1).map { i =>
      val t = new Thread(() => {
        start.await(30, TimeUnit.SECONDS)
        outcomes.put(i,
          try {
            GraftTable.commitRetrying(fs, dir)(GraftTable.pinnedAt("table", 0L)(
              Seq(GraftTable.GraftEntry(s"$dir/f$i.parquet", None))))
            None
          } catch { case e: Throwable => Some(e) })
      })
      t.start(); t
    }
    threads.foreach(_.join(30000))
    val losers = (0 to 1).map(outcomes.get).flatten
    assert(losers.size <= 1, s"at most one loser: $outcomes")
    // the losing side (when the race was tight enough to produce one)
    // saw an IOException AND found the manifest present — exactly the two
    // facts commitRetrying's conflict loop checks before it re-reads the
    // head — and its commit, pinned to the empty log, refused that head
    losers.foreach { e =>
      assert(e.isInstanceOf[IllegalStateException] &&
        e.getMessage.contains("a racing commit took version 1"), e)
      assert(fs.exists(GraftTable.manifestPath(dir, 1L)))
    }
    // the committed snapshot is exactly ONE committer's, never a merge
    val files = GraftTable.readManifest(fs, dir, 1L)
      .map(f => new Path(f).getName)
    assert(files == Seq("f0.parquet") || files == Seq("f1.parquet"), files)
  }

  test("racing recordGroup calls allocate DISTINCT ids with intact content") {
    val fs = freshFs()
    val wh = new Path(s"$root/wh")
    fs.mkdirs(wh)
    val start = new CyclicBarrier(2)
    val threads = (0 to 1).map { i =>
      val t = new Thread(() => {
        start.await(30, TimeUnit.SECONDS)
        GraftBranch.recordGroup(fs, wh, s"rel$i", Seq(s"t$i" -> i.toLong))
      })
      t.start(); t
    }
    threads.foreach(_.join(30000))
    val groups = GraftBranch.readGroups(fs, wh)
    assert(groups.map(_._1) == Seq(1L, 2L), groups)
    assert(groups.map(_._2).toSet == Set("rel0", "rel1"),
      s"both publishes' coordinates must survive intact: $groups")
  }

  test("primitive selection: defaults (link on file://, create elsewhere) " +
    "and the conf override to condput / a custom class") {
    val fs = freshFs() // scheme "file"
    assert(GraftCommitPrimitive.forFs(fs).name == "link")
    val conf = new Configuration()
    conf.set(GraftCommitPrimitive.ConfKey, "condput")
    val fs2 = new CheckThenOpenFs
    fs2.initialize(URI.create("file:///"), conf)
    assert(GraftCommitPrimitive.forFs(fs2).name == "condput")
    val conf3 = new Configuration()
    conf3.set(GraftCommitPrimitive.ConfKey,
      classOf[CreateExclusiveCommit].getName)
    val fs3 = new CheckThenOpenFs
    fs3.initialize(URI.create("file:///"), conf3)
    assert(GraftCommitPrimitive.forFs(fs3).name == "create")
  }

  test("two racing committers through the DEFAULT (undeclared) primitive " +
    "on the local filesystem get exactly one winner") {
    // no graft.commit.primitive anywhere: the scheme dispatch must pick
    // a primitive that serializes POSIX — the whole point of dispatching
    // by store instead of defaulting to the HDFS-shaped create
    val fs = freshFs()
    assert(Option(fs.getConf.get(GraftCommitPrimitive.ConfKey)).isEmpty)
    val target = new Path(s"$root/default.txt")
    val (outcomes, bytes) = race(GraftCommitPrimitive.forFs(fs), target,
      syncInCheck = false)
    val losers = outcomes.flatten
    assert(losers.size == 1,
      s"the default primitive must serialize local racers: $outcomes")
    assert(losers.head.isInstanceOf[FileAlreadyExistsException], losers.head)
    val winner = outcomes.indexWhere(_.isEmpty)
    assert(bytes == s"committer-$winner",
      s"installed bytes must be the winner's, untorn: '$bytes'")
  }

  test("SCHEME dispatch: object stores default to condput (refusing " +
    "loudly without an SDK store hook); hdfs-shaped schemes to create") {
    // an object-store scheme with a configured store hook -> condput
    val confS3 = new Configuration()
    confS3.set(GraftCommitPrimitive.StoreConfKey,
      classOf[LocalGenerationStore].getName)
    val s3 = new SchemeFs("s3a")
    s3.initialize(URI.create("file:///"), confS3)
    assert(GraftCommitPrimitive.forFs(s3).name == "condput")
    // without the hook: a LOUD refusal — the local generation shim links
    // paths on the driver's own disk, which on a real object store would
    // commit somewhere the table is not
    val bare = new SchemeFs("gs")
    bare.initialize(URI.create("file:///"), new Configuration())
    val e = intercept[IllegalStateException](GraftCommitPrimitive.forFs(bare))
    assert(e.getMessage.contains(GraftCommitPrimitive.StoreConfKey))
    // hdfs-shaped atomic namespaces (and unknown schemes) keep create
    val hdfs = new SchemeFs("hdfs")
    hdfs.initialize(URI.create("file:///"), new Configuration())
    assert(GraftCommitPrimitive.forFs(hdfs).name == "create")
    val odd = new SchemeFs("someFs")
    odd.initialize(URI.create("file:///"), new Configuration())
    assert(GraftCommitPrimitive.forFs(odd).name == "create")
    // an EXPLICIT condput keeps the local shim (what this spec races)
    val confExplicit = new Configuration()
    confExplicit.set(GraftCommitPrimitive.ConfKey, "condput")
    val exp = new SchemeFs("file")
    exp.initialize(URI.create("file:///"), confExplicit)
    assert(GraftCommitPrimitive.forFs(exp).name == "condput")
  }

  test("TIMESTAMP AS OF resolves a same-millisecond commit pair through " +
    "!ts= meta stamps alone — setTimes stubbed out, mtimes ignored") {
    val fs = new NoSetTimesFs
    fs.initialize(URI.create("file:///"), new Configuration())
    val dir = new Path(s"$root/tsmeta")
    fs.mkdirs(dir)
    GraftTable.commitRetrying(fs, dir)(_ =>
      Seq(GraftTable.GraftEntry(s"$root/tsmeta/a.parquet", None)))
    // force the same-millisecond condition deterministically: move v1's
    // stamp into the future, so v2's strictly-monotonic stamp lands
    // exactly one milli later regardless of wall clock
    val t1 = System.currentTimeMillis() + 600000L
    rewriteTs(fs, GraftTable.manifestPath(dir, 1), t1)
    GraftTable.commitRetrying(fs, dir)(_ =>
      Seq(GraftTable.GraftEntry(s"$root/tsmeta/b.parquet", None)))
    assert(NoSetTimesFs.attempts.get() >= 0) // the stub is in play
    assert(GraftTable.commitTimeMillis(fs, dir, 2) == t1 + 1,
      "the successor of a same-ms pair must stamp exactly one milli later")
    // at-or-before resolves EACH commit of the pair to itself...
    assert(GraftTable.versionAtOrBefore(fs, dir, t1).contains(1L))
    assert(GraftTable.versionAtOrBefore(fs, dir, t1 + 1).contains(2L))
    // ...and the pre-pair instant resolves to NOTHING: both manifest
    // FILES' mtimes are in the past (now), so an mtime-based resolution
    // would wrongly return version 2 — meta-first is load-bearing here
    assert(GraftTable.versionAtOrBefore(fs, dir, t1 - 1).isEmpty,
      "resolution must read the meta stamps, not the file mtimes")
  }

  /** Every manifest of every namespace under `dir` carries `!ts=` and
    * `!kind=` (the empty v1 of CREATE TABLE excepted), and no per-commit
    * side file sits beside them.
    */
  private def assertManifestIsWholeCommit(fs: org.apache.hadoop.fs.FileSystem,
                                          dir: Path): Unit = {
    val markers = fs.listStatus(dir).map(_.getPath.getName).filter(n =>
      n.startsWith("_graft_commit_") || n.matches("_graft_branch_.*_commit_.*"))
    assert(markers.isEmpty, s"per-commit marker files under $dir: ${markers.toSeq}")
    val namespaces = None +: GraftBranch.readAll(fs, dir).keys.toSeq.map(Some(_))
    for (b <- namespaces; v <- GraftTable.manifestVersions(fs, dir, b)) {
      val meta = GraftTable.manifestMeta(fs, dir, v, b)
      assert(meta.contains(GraftTable.TsMetaKey), s"$dir $b v$v: no !ts= in $meta")
      val emptyV1 = b.isEmpty && v == 1L &&
        GraftTable.readFullEntries(fs, dir, 1L).isEmpty
      assert(emptyV1 || meta.contains(GraftTable.KindMetaKey),
        s"$dir $b v$v: no !kind= in $meta")
    }
  }

  test("every commit verb records its kind and time in the manifest alone") {
    graft.GraftExtensions.register(spark)
    val wh = Files.createTempDirectory("graft_kinds_wh").toString
    spark.conf.set("spark.sql.catalog.graft_kinds", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_kinds.warehouse", wh)
    val sql = spark.sql(_: String)
    sql("CREATE NAMESPACE IF NOT EXISTS graft_kinds.db")
    val fs = new Path(wh).getFileSystem(spark.sessionState.newHadoopConf())
    val kinds = scala.collection.mutable.LinkedHashMap.empty[String, Option[String]]
    // run one verb against db.<table>; record the kind of the newest main
    // commit and check the whole log after it
    def verb(label: String, table: String)(body: => Unit): Long = {
      body
      val dir = new Path(s"$wh/db/$table")
      val v = GraftTable.manifestVersions(fs, dir).last
      kinds(label) = GraftTable.commitKind(fs, dir, v)
      assertManifestIsWholeCommit(fs, dir)
      v
    }
    sql("""CREATE TABLE graft_kinds.db.t (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    val vInsert = verb("INSERT", "t")(
      sql("INSERT INTO graft_kinds.db.t SELECT id, id FROM range(0, 50)"))
    sql("INSERT INTO graft_kinds.db.t SELECT id, id FROM range(50, 100)")
    verb("compactTable", "t")(
      GraftMaintenance.compactTable(spark, TestTables.at(s"$wh/db/t")))
    verb("COW UPDATE", "t")(
      sql("UPDATE graft_kinds.db.t SET v = v + 1 WHERE id < 10"))
    verb("COW MERGE", "t")(sql(
      """MERGE INTO graft_kinds.db.t x
        |USING (SELECT id, id * 2 AS v FROM range(90, 110)) s ON x.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    verb("INSERT OVERWRITE", "t")(sql(
      "INSERT OVERWRITE graft_kinds.db.t SELECT id, id FROM range(0, 80)"))
    verb("eq-upsert", "t")(GraftEqDelete.upsert(spark, "graft_kinds", "db.t",
      spark.range(70, 90).selectExpr("id", "id * 3 AS v"), Seq("id")))
    verb("restore", "t")(
      GraftMaintenance.restore(spark, TestTables.at(s"$wh/db/t"), vInsert))
    verb("clone", "tc")(
      GraftClone.clone(spark, s"$wh/db/t", s"$wh/db/tc", shallow = false))
    verb("WAP publish", "t") {
      val token = GraftWap.stage(spark, "graft_kinds", "db.t",
        spark.range(200, 210).selectExpr("id", "id AS v"))
      GraftWap.publish(spark, "graft_kinds", "db.t", token)
    }
    verb("branch fast-forward", "t") {
      sql("SELECT * FROM graft_branch('graft_kinds', 'db.t', 'ff')").collect()
      spark.range(300, 310).selectExpr("id", "id AS v")
        .writeTo("graft_kinds.db.t.branch_ff").append()
      assertManifestIsWholeCommit(fs, new Path(s"$wh/db/t"))
      sql("SELECT * FROM graft_fastforward('graft_kinds', 'db.t', 'ff')").collect()
    }
    verb("branch cherry-pick", "t") {
      sql("SELECT * FROM graft_branch('graft_kinds', 'db.t', 'cp')").collect()
      spark.range(400, 410).selectExpr("id", "id AS v")
        .writeTo("graft_kinds.db.t.branch_cp").append()
      sql("INSERT INTO graft_kinds.db.t VALUES (500, 500)")
      assertManifestIsWholeCommit(fs, new Path(s"$wh/db/t"))
      sql("SELECT * FROM graft_cherrypick('graft_kinds', 'db.t', 'cp')").collect()
    }
    sql("""CREATE TABLE graft_kinds.db.m (id BIGINT, v BIGINT)
          |TBLPROPERTIES('history'='true', 'merge-on-read'='true')""".stripMargin)
    sql("INSERT INTO graft_kinds.db.m SELECT id, id FROM range(0, 50)")
    verb("MOR DELETE", "m")(sql("DELETE FROM graft_kinds.db.m WHERE id < 5"))
    sql("""CREATE TABLE graft_kinds.db.s (id BIGINT)
          |TBLPROPERTIES('history'='true')""".stripMargin)
    verb("streaming sink epoch", "s") {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val in = MemoryStream[Long]
      val q = in.toDF().select(col("value").as("id")).writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("graft_kinds_cp").toString)
        .toTable("graft_kinds.db.s")
      try { in.addData(0L until 10L: _*); q.processAllAvailable() }
      finally q.stop()
    }
    import GraftTable._
    assert(kinds.toSeq == Seq(
      "INSERT" -> KindAppend, "compactTable" -> KindCompact,
      "COW UPDATE" -> KindReplace, "COW MERGE" -> KindReplace,
      "INSERT OVERWRITE" -> KindOverwrite, "eq-upsert" -> KindEqDelta,
      "restore" -> KindRestore, "clone" -> KindAppend,
      "WAP publish" -> KindAppend, "branch fast-forward" -> KindAppend,
      "branch cherry-pick" -> KindAppend, "MOR DELETE" -> KindDelta,
      "streaming sink epoch" -> KindAppend).map { case (l, k) => l -> Some(k) })
  }

  private def rewriteTs(fs: org.apache.hadoop.fs.FileSystem, mp: Path,
                        toMillis: Long): Unit = {
    val in = fs.open(mp)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val out = lines.map(l =>
      if (l.startsWith(s"!${GraftTable.TsMetaKey}="))
        s"!${GraftTable.TsMetaKey}=$toMillis"
      else l)
    val os = fs.create(mp, true)
    try os.write(out.mkString("\n").getBytes("UTF-8")) finally os.close()
  }
}

/** A filesystem whose exclusive create is deliberately CHECK-THEN-OPEN
  * with a barrier INSIDE the window: both racing committers pass the
  * existence check before either opens — the deterministic version of the
  * race Hadoop's local filesystem (and any store without an atomic
  * namespace) exposes probabilistically.
  */
class CheckThenOpenFs extends RawLocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (!overwrite) {
      if (exists(f))
        throw new FileAlreadyExistsException(s"File already exists: $f")
      CheckThenOpenFs.barrier.foreach(_.await(10, TimeUnit.SECONDS))
      // the check is stale by open time — model the lost update
      super.create(f, permission, true, bufferSize, replication,
        blockSize, progress)
    } else super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  // the create primitive commits via rename: the barrier HERE guarantees
  // both committers pass their existence pre-probe before either
  // renames — the deterministic version of the POSIX overwrite race
  override def rename(src: Path, dst: Path): Boolean = {
    CheckThenOpenFs.barrier.foreach(_.await(10, TimeUnit.SECONDS))
    super.rename(src, dst)
  }
}

object CheckThenOpenFs {
  @volatile var barrier: Option[CyclicBarrier] = None
}

/** Local filesystem wearing an arbitrary scheme — lets the spec drive
  * the scheme dispatch without any remote store.
  */
class SchemeFs(scheme: String) extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"$scheme:///")
}

/** Local filesystem WITHOUT setTimes — the object-store shape whose
  * connectors cannot touch mtimes; commit-time machinery must not
  * depend on it.
  */
class NoSetTimesFs extends RawLocalFileSystem {
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit = {
    NoSetTimesFs.attempts.incrementAndGet()
    throw new UnsupportedOperationException("setTimes unsupported (stub)")
  }
}

object NoSetTimesFs {
  val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
}
