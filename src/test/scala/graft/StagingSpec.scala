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
  *     recompiles instead of growing monotonically. */
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
    val root = Files.createTempDirectory("graft_sweep_spec")
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
    // stale-digest lock file (inert — that path is never locked again)
    val lockOld = root.resolve("graft_x_aaaaaaaa_deadbeef.lock")
    Files.write(lockOld, Array.emptyByteArray)
    Files.setLastModifiedTime(lockOld, FileTime.fromMillis(now - 13 * hour))
    // current-digest lock: live mutual exclusion, never reaped
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

    val deleted = Staging.sweepStaleStagings(Seq(root), maxAge, now).toSet
    assert(deleted == Set(staleOld, orphanOld, lockOld),
      s"sweep deleted the wrong set: $deleted")
    assert(Files.exists(current), "current-digest staging must survive any age")
    assert(Files.exists(staleFresh),
      "a recently-touched foreign-digest staging (live A/B partner) must survive")
    assert(Files.exists(foreign), "non-graft paths must never be touched")
    assert(Files.exists(lockCur), "current-digest lock must never be reaped")
    assert(Files.exists(ownedOddName),
      "a dir whose marker fp leads with the current logicDigest must survive " +
        "regardless of its name tail")
    assert(!Files.exists(staleOld) && !Files.exists(orphanOld) && !Files.exists(lockOld))
    // idempotent + disk-flat: a second sweep finds nothing
    assert(Staging.sweepStaleStagings(Seq(root), maxAge, now).isEmpty)
    graft.etl.Context.deleteRecursively(root)
  }

  test("a HELD stale-digest lock is never unlinked; released, it is reaped") {
    // unlinking a held lock would let the next contender lock a FRESH
    // inode — two builders then both hold "the" lock and mutual exclusion
    // is broken (ADVICE r13). The sweep probes with tryLock: a hold by
    // any process (including this JVM — OverlappingFileLockException)
    // makes the lock unreapable regardless of age.
    val root = Files.createTempDirectory("graft_heldlock_spec")
    val now = 1_000_000_000_000L
    val lock = root.resolve("graft_x_aaaaaaaa_deadbeef.lock")
    Files.write(lock, Array.emptyByteArray)
    Files.setLastModifiedTime(lock, FileTime.fromMillis(now - 48 * hour))
    val ch = java.nio.channels.FileChannel.open(lock,
      java.nio.file.StandardOpenOption.WRITE)
    val held = ch.lock()
    try {
      assert(Staging.sweepStaleStagings(Seq(root), 12 * hour, now).isEmpty,
        "sweep unlinked a HELD lock")
      assert(Files.exists(lock))
    } finally { held.release(); ch.close() }
    // nobody holds it now — the stale lock is inert and reapable
    assert(Staging.sweepStaleStagings(Seq(root), 12 * hour, now) == Seq(lock))
    assert(!Files.exists(lock))
    graft.etl.Context.deleteRecursively(root)
  }

  test("a reaped lock's inode is tombstoned: the stuck contender detects the orphan") {
    // the r14 residual: a contender that OPENED the lock file before the
    // sweep's unlink but locks after its release used to acquire an
    // orphaned inode silently. r15's sweep writes the tombstone INTO the
    // file (inode-bound) while holding the probe lock, before unlinking —
    // so the stuck contender's own fd reads the mark after acquisition.
    val root = Files.createTempDirectory("graft_tombstone_spec")
    val now = 1_000_000_000_000L
    val lock = root.resolve("graft_x_aaaaaaaa_deadbeef.lock")
    Files.write(lock, Array.emptyByteArray)
    Files.setLastModifiedTime(lock, FileTime.fromMillis(now - 48 * hour))
    // the contender opens… and stalls before lock()
    val ch1 = java.nio.channels.FileChannel.open(lock,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.READ)
    try {
      // sweep reaps: tombstone write + unlink, all while holding tryLock
      assert(Staging.sweepStaleStagings(Seq(root), 12 * hour, now) == Seq(lock))
      assert(!Files.exists(lock))
      // the contender now locks the ORPHANED inode — and must see the mark
      val l = ch1.lock()
      try {
        val buf = java.nio.ByteBuffer.allocate(Staging.LockTombstone.length)
        val n = ch1.read(buf, 0L)
        assert(n == Staging.LockTombstone.length &&
          java.util.Arrays.equals(buf.array(), Staging.LockTombstone),
          "reaped inode carries no tombstone — the orphan window is open again")
      } finally l.release()
    } finally ch1.close()
    graft.etl.Context.deleteRecursively(root)
  }

  test("withBuildLock retries past a tombstoned inode onto a fresh live lock") {
    // deterministic simulation of the detect-and-retry path: a tombstoned
    // file sitting AT the path (a sweeper that died between its tombstone
    // write and its unlink) must not satisfy an acquisition — the first
    // pass detects the mark, the guarded reap clears the dead file, and
    // the second pass creates a fresh live lock and runs the body.
    val root = Files.createTempDirectory("graft_tombretry_spec")
    val base = root.resolve("graft_x_bbbbbbbb_deadbeef")
    val lock = Paths.get(base.toString + ".lock")
    Files.write(lock, Staging.LockTombstone)
    var ran = false
    val out = Staging.withBuildLock(base.toString) { ran = true; 42 }
    assert(out == 42 && ran, "body did not run after the tombstone retry")
    assert(Files.exists(lock), "retry did not recreate a live lock file")
    assert(Files.size(lock) == 0L,
      "the fresh lock file is not empty — tombstone content leaked into a live lock")
    graft.etl.Context.deleteRecursively(root)
  }

  test("warehouse code-source anchor resolves classes-dir, sbt-jar and app-dir-jar layouts") {
    // ADVICE r14: production sweeps (initStaging before any session) rest
    // entirely on the code-source anchor, which only handled the
    // classes-dir layout — a jar-packaged launch silently fell back to the
    // cwd-relative root, the exact r13 skip. The resolver is now a pure
    // function tested WITHOUT a session for all three launch layouts.
    val t = Files.createTempDirectory("graft_codesrc_spec")
    // sbt classes-dir launch: <root>/target/scala-2.13/classes
    val classes = t.resolve("repo/target/scala-2.13/classes")
    Files.createDirectories(classes)
    Files.createDirectories(t.resolve("repo/spark-warehouse"))
    assert(Staging.warehouseFromCodeSource(classes)
      .contains(t.resolve("repo/spark-warehouse")))
    // sbt-layout jar: <root>/target/scala-2.13/app.jar
    val sbtJar = t.resolve("repo2/target/scala-2.13/app.jar")
    Files.createDirectories(sbtJar.getParent)
    Files.write(sbtJar, Array[Byte](1))
    Files.createDirectories(t.resolve("repo2/spark-warehouse"))
    assert(Staging.warehouseFromCodeSource(sbtJar)
      .contains(t.resolve("repo2/spark-warehouse")))
    // deployed jar next to its warehouse: <dir>/app.jar + <dir>/spark-warehouse
    val appJar = t.resolve("deploy/app.jar")
    Files.createDirectories(appJar.getParent)
    Files.write(appJar, Array[Byte](1))
    Files.createDirectories(t.resolve("deploy/spark-warehouse"))
    assert(Staging.warehouseFromCodeSource(appJar)
      .contains(t.resolve("deploy/spark-warehouse")))
    // no warehouse anywhere → None (caller falls back loudly)
    val lost = t.resolve("elsewhere/lib/app.jar")
    Files.createDirectories(lost.getParent)
    Files.write(lost, Array[Byte](1))
    assert(Staging.warehouseFromCodeSource(lost).isEmpty)
    graft.etl.Context.deleteRecursively(t)
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
    // verdict #5) — with a live session the root must BE the session's
    // configured warehouse dir, absolute
    val wh = Staging.sweepWarehouseRoot
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

  test("coexisting code digests never clobber each other's stagings") {
    // a REAL staged artifact under the current digest
    StagedArtifacts.stagedErRanks(spark, dir)._1.count()
    val tmp = Paths.get("/tmp")
    val st = Files.list(tmp)
    val cur = try st.toArray.map(_.asInstanceOf[Path]).find(
        _.getFileName.toString.matches(s"graft_errankname_[0-9a-f]{8}_$code8"))
      finally st.close()
    assert(cur.isDefined, "staged errankname path not found under /tmp")
    // fabricate the A/B partner under an ISOLATED root, not the real
    // shared /tmp (ADVICE r13: a concurrent session's sweep or a parallel
    // test run could race a fixture created in the live staging root) —
    // the coexistence property under test is "a rebuild under one digest
    // writes only its own digest-keyed path", which no partner location
    // can change
    val coexistRoot = Files.createTempDirectory("graft_coexist_spec")
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
    // clock: sweeping the real /tmp with an inflated `now` would reap a
    // LIVE A/B partner's warm stagings (exactly what the age guard
    // exists to prevent).
    val gcRoot = Files.createTempDirectory("graft_gc_spec")
    def copyInto(src: Path): Path = {
      val dst = gcRoot.resolve(src.getFileName)
      Files.createDirectories(dst)
      listFiles(src).foreach(f => Files.copy(f, dst.resolve(f.getFileName)))
      dst
    }
    val curCopy = copyInto(cur.get)
    val partnerCopy = copyInto(partner)
    val future = System.currentTimeMillis() + 100 * hour
    val deleted = Staging.sweepStaleStagings(Seq(gcRoot), 12 * hour, future)
    assert(deleted == Seq(partnerCopy),
      s"sweep must reap exactly the stale partner, got: $deleted")
    assert(Files.exists(curCopy), "current staging reaped by its own sweep")
    assert(!Files.exists(partnerCopy))
    graft.etl.Context.deleteRecursively(gcRoot)
    graft.etl.Context.deleteRecursively(coexistRoot)
  }
}
