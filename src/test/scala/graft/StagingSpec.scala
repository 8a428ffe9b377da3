package graft

import graft.staging.{StagedArtifacts, Staging}

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

/** The staging lifecycle's two invariants, pinned end-to-end:
  *
  *  1. COEXISTENCE — staged paths carry the code digest, so two builds
  *     (the matched A/B control-vs-treatment protocol) keep separate
  *     stagings and a rebuild under one digest never touches the
  *     other's files (the exact hazard round 12 fixed).
  *  2. GC — digest rotation strands the previous build's artifact set;
  *     [[Staging.sweepStaleStagings]] reaps stale-digest stagings
  *     past the age guard while keeping the current build's and any
  *     recently-touched foreign build's (a live A/B partner refreshes
  *     its marker mtime on every reuse), so disk stays flat across
  *     recompiles instead of growing monotonically.
  *  3. COMMIT — [[Staging.commit]] publishes a staging by one atomic
  *     rename: concurrent cold builds leave one published dir, and a
  *     failed build leaves nothing. */
class StagingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val hour = 3600_000L
  private def code8 = Staging.logicDigest.take(8)

  private def mkStaging(p: Path, markerAgeMillis: Long, now: Long): Path = {
    Files.createDirectories(p)
    Files.write(p.resolve("part-0.parquet"), "data".getBytes("UTF-8"))
    val marker = p.resolve(Staging.StagingMarkerName)
    Files.write(marker, "fp=test".getBytes("UTF-8"))
    Files.setLastModifiedTime(marker, FileTime.fromMillis(now - markerAgeMillis))
    p
  }

  test("sweep reaps stale-digest stagings past the age guard, keeps current/recent/foreign-named") {
    val root = tempDir("graft_sweep_spec")
    val now = 1_000_000_000_000L // fixed clock: the sweep takes nowMillis explicitly
    val maxAge = 12 * hour
    val current    = mkStaging(root.resolve(s"graft_x_aaaaaaaa_$code8"), 48 * hour, now)
    val staleOld   = mkStaging(root.resolve("graft_x_aaaaaaaa_deadbeef"), 13 * hour, now)
    val staleFresh = mkStaging(root.resolve("graft_x_aaaaaaaa_cafebabe"), 1 * hour, now)
    // no marker at all (failed/partial build): falls back to dir mtime
    val orphanOld = root.resolve("graft_y_bbbbbbbb_deadbeef")
    Files.createDirectories(orphanOld)
    Files.setLastModifiedTime(orphanOld, FileTime.fromMillis(now - 13 * hour))
    // not graft-named: never touched, digest suffix or not
    val foreign = mkStaging(root.resolve("other_x_deadbeef"), 48 * hour, now)
    // stale-digest lock file an earlier build left behind: a plain file,
    // reaped by the same age rule
    val lockOld = root.resolve("graft_x_aaaaaaaa_deadbeef.lock")
    Files.write(lockOld, Array.emptyByteArray)
    Files.setLastModifiedTime(lockOld, FileTime.fromMillis(now - 13 * hour))
    // current-digest lock-named file: the digest rule keeps it
    val lockCur = root.resolve(s"graft_x_aaaaaaaa_$code8.lock")
    Files.write(lockCur, Array.emptyByteArray)
    Files.setLastModifiedTime(lockCur, FileTime.fromMillis(now - 48 * hour))

    // stale-NAMED dir whose marker fp leads with THIS build's digest:
    // kept — the marker, not the name tail, is the ownership authority
    // (the ADVICE r13 belt-and-braces guard)
    val ownedOddName = root.resolve("graft_z_cccccccc_deadbeef")
    Files.createDirectories(ownedOddName)
    Files.write(ownedOddName.resolve(Staging.StagingMarkerName),
      s"fp=${Staging.logicDigest}\\:abc123".getBytes("UTF-8"))
    Files.setLastModifiedTime(ownedOddName.resolve(Staging.StagingMarkerName),
      FileTime.fromMillis(now - 48 * hour))

    val deleted = Staging.sweepStaleStagings(root, maxAge, now).toSet
    assert(deleted == Set(staleOld, orphanOld, lockOld),
      s"sweep deleted the wrong set: $deleted")
    assert(Files.exists(current), "current-digest staging must survive any age")
    assert(Files.exists(staleFresh),
      "a recently-touched foreign-digest staging (live A/B partner) must survive")
    assert(Files.exists(foreign), "non-graft paths must never be touched")
    assert(Files.exists(lockCur), "a current-digest entry must never be reaped")
    assert(Files.exists(ownedOddName),
      "a dir whose marker fp leads with the current logicDigest must survive " +
        "regardless of its name tail")
    assert(!Files.exists(staleOld) && !Files.exists(orphanOld) && !Files.exists(lockOld))
    // idempotent + disk-flat: a second sweep finds nothing
    assert(Staging.sweepStaleStagings(root, maxAge, now).isEmpty)
    graft.etl.Context.deleteRecursively(root)
  }

  test("warehouse conf decode is shared and handles URIs, encoding and plain paths") {
    // ADVICE r14: the writer (stagedBucketedTable location) and the
    // reader (sweep root) must decode the SAME way or an encoded
    // warehouse path splits them — stagings written under the raw string,
    // sweep scanning the decoded one
    assert(Staging.warehousePathFromConf("file:/a/b") == Paths.get("/a/b"))
    assert(Staging.warehousePathFromConf("file:/a/with%20space/w")
      == Paths.get("/a/with space/w"))
    assert(Staging.warehousePathFromConf("/plain/path") == Paths.get("/plain/path"))
    assert(Staging.warehousePathFromConf("spark-warehouse")
      == Paths.get("spark-warehouse"))
  }

  test("the warehouse sweep root resolves absolutely (not cwd-relative)") {
    // a relative `spark-warehouse` silently skips the warehouse half of
    // the GC whenever the launcher's cwd is not the repo root (r13
    // verdict #5) — the root must BE the session's configured warehouse
    // dir, absolute
    val wh = Staging.warehouseRoot(spark)
    assert(wh.isAbsolute, s"warehouse sweep root is cwd-relative: $wh")
    val conf = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    assert(wh == Paths.get(conf),
      s"sweep root $wh != session warehouse dir $conf")
  }

  private def listFiles(p: Path): Seq[Path] = {
    val st = Files.list(p)
    try st.toArray.toSeq.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
    finally st.close()
  }

  /** The content-addressed stagings directly under `root`. */
  private def stagings(root: Path): Seq[Path] = {
    val st = Files.list(root)
    try st.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.matches("graft_.+_[0-9a-f]{8}_[0-9a-f]{8}_[0-9a-f]{8}"))
    finally st.close()
  }

  test("parquet and path stagings resolve under the session's warehouse, none under /tmp") {
    val before = stagings(Paths.get("/tmp")).toSet
    Staging.resetStagingRefsForTest()
    val ranks = StagedArtifacts.stagedErRanks(spark, dir)._1
    val jsonl = Paths.get(StagedArtifacts.jsonlStagePath(spark, dir))
    val wh = Staging.warehouseRoot(spark)
    val parquet = ranks.inputFiles.toSeq.map(f => Paths.get(new java.net.URI(f)))
    assert(parquet.nonEmpty && parquet.forall(_.getParent.getParent == wh),
      s"errankname not staged directly under $wh: $parquet")
    assert(jsonl.getParent == wh, s"jsonl not staged directly under $wh: $jsonl")
    assert(stagings(wh).contains(jsonl))
    assert(stagings(Paths.get("/tmp")).toSet -- before == Set.empty)
  }

  test("coexisting code digests never clobber each other's stagings") {
    // a REAL staged artifact under the current digest
    StagedArtifacts.stagedErRanks(spark, dir)._1.count()
    val wh = Staging.warehouseRoot(spark)
    val cur = stagings(wh).find(
      _.getFileName.toString.matches(s"graft_errankname_[0-9a-f]{8}_[0-9a-f]{8}_$code8"))
    assert(cur.isDefined, s"staged errankname path not found under $wh")
    // fabricate the A/B partner under an ISOLATED root, not the real
    // shared warehouse (ADVICE r13: a concurrent session's sweep or a parallel
    // test run could race a fixture created in the live staging root) —
    // the coexistence property under test is "a rebuild under one digest
    // writes only its own digest-keyed path", which no partner location
    // can change
    val coexistRoot = tempDir("graft_coexist_spec")
    val partner = coexistRoot.resolve(
      cur.get.getFileName.toString.dropRight(8) + "0abcde12")
    Files.createDirectories(partner)
    listFiles(cur.get).foreach(f => Files.copy(f, partner.resolve(f.getFileName)))
    // a REAL A/B partner's marker fingerprint leads with ITS digest, not
    // ours — rewrite it, or the sweep's marker-fp ownership guard would
    // (correctly) treat the copied marker as this build's own artifact
    Files.write(partner.resolve(Staging.StagingMarkerName),
      "fp=0abcde12ffffffffffffffffffffffff:test".getBytes("UTF-8"))
    val snapshot = listFiles(partner)
      .map(f => f.getFileName.toString -> Files.size(f)).toMap
    // drive the current build back through the cross-JVM probe (marker
    // re-check + potential rebuild) — the partner must be untouched
    Staging.resetStagingRefsForTest()
    StagedArtifacts.stagedErRanks(spark, dir)._1.count()
    val after = listFiles(partner)
      .map(f => f.getFileName.toString -> Files.size(f)).toMap
    assert(after == snapshot,
      s"a current-digest access modified the foreign-digest staging: $snapshot -> $after")
    // and the GC reaps exactly the stale partner once it ages out while
    // keeping the current staging — the disk-flat-across-recompiles
    // claim. Sweep COPIES under an isolated root with a far-future
    // clock: sweeping the real warehouse with an inflated `now` would reap a
    // LIVE A/B partner's warm stagings (exactly what the age guard
    // exists to prevent).
    val gcRoot = tempDir("graft_gc_spec")
    def copyInto(src: Path): Path = {
      val dst = gcRoot.resolve(src.getFileName)
      Files.createDirectories(dst)
      listFiles(src).foreach(f => Files.copy(f, dst.resolve(f.getFileName)))
      dst
    }
    val curCopy = copyInto(cur.get)
    val partnerCopy = copyInto(partner)
    val future = System.currentTimeMillis() + 100 * hour
    val deleted = Staging.sweepStaleStagings(gcRoot, 12 * hour, future)
    assert(deleted == Seq(partnerCopy),
      s"sweep must reap exactly the stale partner, got: $deleted")
    assert(Files.exists(curCopy), "current staging reaped by its own sweep")
    assert(!Files.exists(partnerCopy))
    graft.etl.Context.deleteRecursively(gcRoot)
    graft.etl.Context.deleteRecursively(coexistRoot)
  }

  private def tmpSiblings(p: Path): Seq[Path] = {
    val st = Files.list(p.getParent)
    try st.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith(p.getFileName.toString + ".tmp-"))
    finally st.close()
  }

  private def writeRange(n: Long)(tmp: Path): Map[String, String] = {
    spark.range(n).toDF("id").write.parquet(tmp.toString)
    Map.empty
  }

  test("two concurrent cold builds publish one dir and read the same rows") {
    val root = tempDir("graft_commit_spec")
    val path = root.resolve(s"graft_race_aaaaaaaa_bbbbbbbb_$code8")
    val fp = s"${Staging.logicDigest}:race"
    // both callers go straight to the commit, past the in-process map:
    // the same race two fresh JVMs run
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val rows = (1 to 2).map(_ => pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
        def call(): Seq[Long] = {
          start.await()
          Staging.commit(path, fp)((_, _) => true)(writeRange(1000))
          spark.read.parquet(path.toString).collect().map(_.getLong(0)).sorted.toSeq
        }
      }))
      start.countDown()
      val Seq(a, b) = rows.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      assert(a == (0L until 1000L) && a == b, "the two callers read different rows")
    } finally pool.shutdown()
    val st = Files.list(root)
    val left = try st.toArray.toSeq.map(_.asInstanceOf[Path]) finally st.close()
    assert(left == Seq(path), s"expected exactly the published dir, found: $left")
    assert(Files.exists(path.resolve(Staging.StagingMarkerName)))
    graft.etl.Context.deleteRecursively(root)
  }

  test("a failed build leaves no published path and no temp dir; the next access rebuilds") {
    val root = tempDir("graft_commit_fail_spec")
    val path = root.resolve(s"graft_fail_aaaaaaaa_bbbbbbbb_$code8")
    val fp = s"${Staging.logicDigest}:fail"
    val e = intercept[IllegalStateException] {
      Staging.commit(path, fp)((_, _) => true) { tmp =>
        writeRange(10)(tmp)
        throw new IllegalStateException("writer failed")
      }
    }
    assert(e.getMessage == "writer failed")
    assert(!Files.exists(path), "a failed build published its path")
    assert(tmpSiblings(path).isEmpty, s"a failed build left ${tmpSiblings(path)}")
    Staging.commit(path, fp)((_, _) => true)(writeRange(10))
    assert(spark.read.parquet(path.toString).count() == 10)
    assert(tmpSiblings(path).isEmpty)
    graft.etl.Context.deleteRecursively(root)
  }

  test("sweep reaps an orphaned temp dir past the age guard and keeps a younger one") {
    val root = tempDir("graft_orphan_spec")
    val now = 1_000_000_000_000L
    def orphan(name: String, age: Long): Path = {
      val p = root.resolve(name)
      Files.createDirectories(p)
      Files.write(p.resolve("part-0.parquet"), "data".getBytes("UTF-8"))
      Files.setLastModifiedTime(p, FileTime.fromMillis(now - age))
      p
    }
    // an orphan of THIS build is reaped too: its digest never protects it
    val old = orphan(s"graft_x_aaaaaaaa_bbbbbbbb_$code8.tmp-1234", 13 * hour)
    val young = orphan(s"graft_x_aaaaaaaa_bbbbbbbb_$code8.tmp-5678", 1 * hour)
    assert(Staging.sweepStaleStagings(root, 12 * hour, now) == Seq(old))
    assert(!Files.exists(old) && Files.exists(young))
    graft.etl.Context.deleteRecursively(root)
  }
}
