package graft.staging

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The staging lifecycle behind every staged artifact: digest-keyed
  * paths, completion markers, cross-process build locks and their reap
  * tombstones, and the sweep that reclaims stagings stranded by a
  * recompile. The two staging primitives, [[stagedParquet]] and
  * [[stagedBucketedTable]], are `private[staging]`: a frame is staged
  * only through an artifact recorded in [[StagedArtifacts]]. */
object Staging {

  /** Names staged once per (JVM, input dir): re-staging per bench pass
    * would charge the one-time reference-ingest cost to every timed run,
    * while trusting a metastore entry from an EARLIER process could serve
    * stale or orphaned data. */
  private[staging] val stagedRefs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test hook: forget the in-process staging set, forcing the next
    * staged access through the cross-JVM reuse probe — the only way a
    * single-JVM spec can exercise the fresh-process path. */
  private[graft] def resetStagingRefsForTest(): Unit = stagedRefs.clear()

  /** Snapshot of the in-process staged set — Bench diffs it across its
    * timed loop to self-audit [[StagedArtifacts.prestageAll]]'s
    * completeness (a staged path first touched INSIDE a timed pass was
    * staged outside the recorded artifacts). */
  private[graft] def stagedRefsSnapshot: Set[String] = {
    val it = stagedRefs.iterator()
    val b = Set.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result()
  }

  private[graft] val StagingMarkerName = "_GRAFT_STAGED.properties"

  /** Staging age guard: a STALE-digest staging younger than this is left
    * alone (it may belong to a live A/B partner build — the matched
    * control-vs-treatment protocol runs two builds side by side for
    * hours). Reuse refreshes the marker mtime ([[touchMarker]]), so an
    * actively-read staging never ages out regardless of when it was
    * written. Overridable for tests and long-lived A/B sessions. */
  private[graft] def stagingMaxAgeMillis: Long =
    (sys.props.get("graft.staging.maxAgeHours").map(_.toDouble).getOrElse(12.0d)
      * 3600_000L).toLong

  /** Decode a `spark.sql.warehouse.dir` conf value to a filesystem path.
    * The conf value is a URI when Spark set it (file:/x, possibly
    * percent-encoded — a repo path with a space arrives as %20 and a
    * bare stripPrefix would resolve to a nonexistent dir); a plain path
    * when the user set it. Parse as URI first, fall back to the raw
    * string. ONE helper shared by the staging WRITER
    * ([[stagedBucketedTable]]'s location) and the sweep READER
    * ([[sweepWarehouseRoot]]) — with separate decoders the two could
    * diverge on an encoded path, and the sweep would silently skip the
    * warehouse half while stagings accumulate under the raw string (the
    * r14 ADVICE divergence). */
  private[graft] def warehousePathFromConf(u: String): java.nio.file.Path = {
    val viaUri = scala.util.Try(new java.net.URI(u)).toOption
      .filter(x => x.getScheme == "file" && x.getPath != null)
      .map(x => java.nio.file.Paths.get(x.getPath))
    viaUri.getOrElse(java.nio.file.Paths.get(u.stripPrefix("file:")))
  }

  /** Anchors a warehouse root from a graft code-source location WITHOUT
    * a live session: for the sbt / `java -cp .../classes` launch the
    * code source is `<root>/target/scala-2.13/classes` and three parents
    * up is the repo root; an assembled jar in the same sbt layout
    * (`<root>/target/scala-2.13/graft….jar`) resolves identically, and a
    * jar deployed elsewhere anchors from its OWN directory (the
    * conventional app-dir layout). First candidate whose
    * `spark-warehouse` exists wins; None when none does (jar-only
    * deployments with no warehouse — nothing to sweep). */
  private[graft] def warehouseFromCodeSource(
      src: java.nio.file.Path): Option[java.nio.file.Path] = {
    val jarDir =
      if (java.nio.file.Files.isRegularFile(src)) Option(src.getParent) else None
    val sbtRoot = Option(src.getParent).flatMap(p => Option(p.getParent))
      .flatMap(p => Option(p.getParent))
    (jarDir.toSeq ++ sbtRoot.toSeq).map(_.resolve("spark-warehouse"))
      .find(java.nio.file.Files.isDirectory(_))
  }

  /** The warehouse root the sweep GCs, resolved ABSOLUTELY: a relative
    * `spark-warehouse` only works when the JVM's cwd happens to be the
    * repo root — a sweep launched from anywhere else silently skipped
    * the warehouse half (r13 verdict). Resolution order: the live
    * session's `spark.sql.warehouse.dir` (the authoritative value once
    * Spark is up), else the repo root anchored from the graft
    * code-source location (`<repo>/target/scala-2.13/classes` for both
    * the sbt and the direct `java -cp` launcher), else the cwd-relative
    * fallback. */
  private[graft] def sweepWarehouseRoot: java.nio.file.Path = {
    val fromSession = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .flatMap(s => scala.util.Try(s.conf.get("spark.sql.warehouse.dir")).toOption)
      .map(warehousePathFromConf)
    def fromCodeSource = scala.util.Try {
      val src = Staging.getClass.getProtectionDomain.getCodeSource
      java.nio.file.Paths.get(src.getLocation.toURI)
    }.toOption.flatMap(warehouseFromCodeSource)
    fromSession.orElse(fromCodeSource).getOrElse {
      // loud, not silent: a cwd-relative root only sweeps when the JVM
      // happens to run from the repo root — the exact r13 silent skip
      System.err.println("[graft] sweepWarehouseRoot: no live session and " +
        "no code-source anchor resolved a spark-warehouse dir; falling " +
        "back to cwd-relative 'spark-warehouse' — the warehouse sweep " +
        "may be skipped for this launch")
      java.nio.file.Paths.get("spark-warehouse")
    }
  }

  /** GC for stranded stagings (the digest-keyed coexistence rule's
    * cost): every recompile rotates [[logicDigest]] and strands the
    * previous build's /tmp parquet dirs and warehouse bucketed tables —
    * a full artifact set per recompile, monotone disk growth on any
    * long-lived host. Sweeps each root for DIRECTORIES named
    * `graft_*_<8hex>` whose digest suffix differs from THIS build's and
    * whose marker (dir mtime when no marker) is older than
    * [[stagingMaxAgeMillis]]. Three keep-guards beyond the name gate
    * (which alone means only graft-authored paths are ever touched):
    *  - AGE: protects a coexisting build's warm staging — its JVM
    *    touches the marker on every reuse.
    *  - MARKER FP: a dir whose marker fingerprint leads with THIS
    *    build's [[logicDigest]] is this build's own artifact regardless
    *    of its name tail — belt-and-braces should any staged path ever
    *    carry a non-digest 8-hex tail again (every current staged path
    *    ends with the code digest, but the sweep must not depend on a
    *    naming convention it doesn't own).
    *  - HELD LOCK: a `.lock` file some process currently HOLDS is never
    *    unlinked no matter how old — unlinking a held lock would let the
    *    next contender lock a fresh inode and break mutual exclusion
    *    (the tryLock probe below). A stale-digest lock nobody holds is
    *    inert (no future build opens that path) and is reaped.
    * Returns the deleted paths. */
  private[graft] def sweepStaleStagings(
      roots: Seq[java.nio.file.Path] = Seq(
        java.nio.file.Paths.get("/tmp"), sweepWarehouseRoot),
      maxAgeMillis: Long = stagingMaxAgeMillis,
      nowMillis: Long = System.currentTimeMillis()): Seq[java.nio.file.Path] = {
    val keep = logicDigest.take(8)
    val pat = java.util.regex.Pattern.compile("^graft_.+_([0-9a-f]{8})$")
    val lockPat = java.util.regex.Pattern.compile("^graft_.+_([0-9a-f]{8})\\.lock$")
    def olderThanGuard(stamp: java.nio.file.Path): Boolean =
      try nowMillis - java.nio.file.Files.getLastModifiedTime(stamp)
        .toMillis > maxAgeMillis
      catch { case _: java.io.IOException => false }
    // marker-fp keep guard: fp is written as "<logicDigest>:<inputFp>"
    def markedByThisBuild(marker: java.nio.file.Path): Boolean =
      readMarker(marker).exists { m =>
        Option(m.getProperty("fp")).exists(_.startsWith(logicDigest))
      }
    // held-lock probe AND reap in one step: tryLock must SUCCEED, and the
    // unlink happens WHILE the probe lock is held — releasing first would
    // re-open the window this guard closes (a contender locking between
    // probe and unlink gets its inode deleted under it). An
    // OverlappingFileLockException means THIS JVM holds it (a same-process
    // hold is a hold); a null return means another process does.
    // TOMBSTONE (r15, closes the r14 residual): a contender that OPENED
    // the file before our unlink but locks after our release would
    // acquire an orphaned inode — so before unlinking, the reaper writes
    // the LockTombstone marker INTO the file through the held channel.
    // The mark is inode-bound, not path-bound: the stuck contender's fd
    // references exactly the inode we mark, and [[withBuildLock]]
    // re-checks for the mark after every acquisition, detecting the
    // orphan and retrying on a fresh open. Live lock files are created
    // empty and no live protocol writes them, so the mark can only mean
    // "this inode was reaped".
    def reapLockWhileHeld(lock: java.nio.file.Path): Boolean =
      try {
        val ch = java.nio.channels.FileChannel.open(lock,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val l = ch.tryLock()
          if (l == null) false
          else try {
            ch.write(java.nio.ByteBuffer.wrap(LockTombstone), 0L)
            ch.force(false)
            java.nio.file.Files.deleteIfExists(lock)
            true
          }
          finally l.release()
        } finally ch.close()
      } catch {
        case _: java.nio.channels.OverlappingFileLockException => false
        case _: java.io.IOException => false
      }
    roots.filter(java.nio.file.Files.isDirectory(_)).flatMap { root =>
      val st = java.nio.file.Files.list(root)
      val entries = try st.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        finally st.close()
      entries.flatMap { p =>
        val nm = p.getFileName.toString
        val m = pat.matcher(nm)
        val lm = lockPat.matcher(nm)
        if (java.nio.file.Files.isDirectory(p) && m.matches() && m.group(1) != keep) {
          val marker = p.resolve(StagingMarkerName)
          val stamp = if (java.nio.file.Files.exists(marker)) marker else p
          if (olderThanGuard(stamp) && !markedByThisBuild(marker)) {
            // best-effort: an undeletable or concurrently-mutating stale
            // path (foreign owner, writer re-creating files mid-walk) must
            // not abort the entry point that volunteered to GC it
            try { graft.etl.Context.deleteRecursively(p); Some(p) }
            catch { case scala.util.control.NonFatal(_) => None }
          } else None
        } else if (java.nio.file.Files.isRegularFile(p) && lm.matches() &&
            lm.group(1) != keep && olderThanGuard(p)) {
          // the unlink happens inside the probe-lock hold — see
          // reapLockWhileHeld
          if (reapLockWhileHeld(p)) Some(p) else None
        } else None
      }
    }
  }

  /** Entry-point startup hook (Bench/Verify/TimeQuery/ScaleProbe call
    * this first): forces [[logicDigest]] eagerly — a launcher that loads
    * graft classes without a code-source location fails HERE with
    * launcher context instead of bricking the first staged query
    * mid-run — then sweeps stale stagings so strandings are reaped at
    * the same cadence they are created. */
  private[graft] def initStaging(): Unit = {
    logicDigest: Unit
    sweepStaleStagings(): Unit
  }

  /** Refresh a reused staging's marker mtime — the liveness signal
    * [[sweepStaleStagings]]'s age guard reads, so an actively-consumed
    * staging is never reaped no matter how old its build is. */
  private[staging] def touchMarker(p: java.nio.file.Path): Unit =
    try java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch { case _: java.io.IOException => () }

  /** The inode-bound reap marker [[sweepStaleStagings]] writes into a
    * lock file (through the held channel) just before unlinking it, and
    * [[withBuildLock]] checks for after every acquisition — a lock
    * acquired on a tombstoned inode is an orphan (the path was unlinked,
    * possibly recreated by another contender) and must be retried on a
    * fresh open. Live lock files are created empty and never written. */
  private[graft] val LockTombstone: Array[Byte] =
    "GRAFT_LOCK_REAPED".getBytes("UTF-8")

  /** Reads back whether a channel's INODE carries the reap tombstone —
    * the post-acquisition check that closes the r14 orphan window. */
  private def isTombstoned(ch: java.nio.channels.FileChannel): Boolean = {
    val buf = java.nio.ByteBuffer.allocate(LockTombstone.length)
    val n = ch.read(buf, 0L)
    n == LockTombstone.length &&
      java.util.Arrays.equals(buf.array(), LockTombstone)
  }

  /** Crash-leftover cleanup: if the PATH still resolves to a tombstoned
    * file (a sweeper died between its tombstone write and its unlink),
    * reap it with the sweep's own while-held discipline — unlink only
    * while holding the file's lock, and only when the content proves the
    * inode dead. A tombstoned inode is dead to every protocol
    * participant by construction, so this unlink can never break live
    * mutual exclusion; a fresh live file at the path reads no tombstone
    * and is left alone. */
  private def reapIfTombstoned(p: java.nio.file.Path): Unit =
    try {
      val c = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.READ)
      try {
        val l = c.tryLock()
        if (l != null)
          try { if (isTombstoned(c)) java.nio.file.Files.deleteIfExists(p): Unit }
          finally l.release()
      } finally c.close()
    } catch {
      case _: java.nio.channels.OverlappingFileLockException => ()
      case _: java.io.IOException => ()
    }

  /** Serialize COLD builds of one staging across processes: two fresh
    * JVMs of the SAME build and input (Verify and Bench launched in
    * parallel) both see a missing marker, and unserialized both would
    * `mode("overwrite")` the same path — one deleting files the other is
    * mid-scan on. An exclusive sibling `.lock` file (OS-level
    * `FileChannel.lock`, released on process death) admits one builder;
    * the loser re-checks the marker after acquiring and finds the
    * winner's completed staging. The 100 TB analogue is the table
    * format's commit protocol — single committer, readers never see a
    * partial snapshot. */
  private[graft] def withBuildLock[A](path: String)(body: => A): A = {
    val lockPath = java.nio.file.Paths.get(path + ".lock")
    if (lockPath.getParent != null)
      java.nio.file.Files.createDirectories(lockPath.getParent)
    // retry loop: an acquisition that lands on a tombstoned inode (the
    // sweep reaped the path between our open and our lock — the r14
    // "orphaned inode" residual, now structurally detected) is released
    // and re-tried; the fresh open either creates a new live file or
    // joins the current holder's inode. The guarded reap between passes
    // clears a crashed sweeper's leftover tombstoned file, so the loop
    // cannot spin on one dead inode.
    while (true) {
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.READ)
      try {
        val l = ch.lock()
        if (!isTombstoned(ch)) {
          // acquisition does not update mtime by itself — touch so a HELD
          // lock always looks fresh to the sweep's age guard (a stale-
          // digest lock is only reaped when no process has locked it for
          // the guard period)
          touchMarker(lockPath)
          try return body finally l.release()
        } else l.release()
      } finally ch.close()
      reapIfTombstoned(lockPath)
      Thread.`yield`()
    }
    throw new IllegalStateException("unreachable")
  }

  /** 8-hex digest of the input dir — keys every staged path and table
    * name, so a warm-up SF can never leak its staging into the timed
    * SF. */
  private[staging] def dirDigest(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** Digest of the COMPILED graft classes — the builder-logic half of
    * every staging fingerprint. Cross-JVM staging reuse must key on the
    * code that BUILT a frame, not only on its inputs: the old manual
    * `StagingEpoch` constant relied on a round that edits a builder
    * remembering to bump it, and a forgotten bump would silently serve
    * a stale staged frame to every later JVM (the correctness gate
    * would stay green exactly when the stale frame matches the
    * unchanged oracle — high confusion cost, no alarm). Hashing the
    * deployed artifact itself removes the discipline: any recompile
    * that changes any graft class (builders, the library operators they
    * call, or just line-number tables) changes the digest and forces a
    * rebuild. That over-approximates — a comment edit rebuilds staging
    * too — but a spurious rebuild costs seconds once per (code, input)
    * while a stale frame costs a wrong investigation; and within fixed
    * code the steady state is unchanged: Verify, Bench, TimeQuery and
    * ScaleProbe JVMs all reuse each other's stagings. The production
    * analogue is keying staged artifacts on the deployed jar's content
    * hash / build id — exactly what this computes, resolved through the
    * classloader so sbt-forked tests and the direct `java -cp` launcher
    * agree (same classes directory ⇒ same digest). Falls back to the
    * jar bytes when running from an assembled jar. Cost: one walk of
    * the class tree per JVM (lazy val) — ~14 ms for the current
    * 2.9 MB / 265 files, noise against a single Spark job. */
  private[graft] lazy val logicDigest: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val src = Staging.getClass.getProtectionDomain.getCodeSource
    require(src != null && src.getLocation != null,
      "cannot locate the graft code source — staging reuse would be unkeyed")
    val root = java.nio.file.Paths.get(src.getLocation.toURI)
    if (java.nio.file.Files.isDirectory(root)) {
      val pkg = root.resolve("graft")
      val files = java.nio.file.Files.walk(pkg)
      try files.filter(java.nio.file.Files.isRegularFile(_))
        .sorted(java.util.Comparator.comparing[java.nio.file.Path, String](_.toString))
        .forEach { p =>
          md.update(root.relativize(p).toString.getBytes("UTF-8"))
          md.update(java.nio.file.Files.readAllBytes(p))
        }
      finally files.close()
    } else md.update(java.nio.file.Files.readAllBytes(root))
    md.digest().map("%02x".format(_)).mkString
  }

  /** md5 hex over (relative path, size, mtime) of every file under the
    * named source tables — the cheap input-content fingerprint that keys
    * cross-JVM staging reuse. Any upstream rewrite (new files, appended
    * rows, touched mtimes) changes the fingerprint and forces a rebuild;
    * file stats never require reading data, so the probe is O(#files)
    * metadata calls — the same class of check a table format's snapshot
    * id gives at 100 TB. */
  private[staging] def inputFingerprint(dir: String, tables: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.isDirectory(p)) {
        val st = java.nio.file.Files.list(p)
        try st.sorted().toArray.foreach(q => walk(q.asInstanceOf[java.nio.file.Path]))
        finally st.close()
      } else md.update((p.toString + "|" + java.nio.file.Files.size(p) + "|" +
        java.nio.file.Files.getLastModifiedTime(p).toMillis + "\n").getBytes("UTF-8"))
    tables.sorted.foreach { t =>
      val p = java.nio.file.Paths.get(dir, s"$t.parquet")
      if (java.nio.file.Files.exists(p)) walk(p)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The staging marker sidecar: written AFTER a successful staging write
    * (so its presence certifies completion), underscore-prefixed (so
    * Spark's file index never reads it as data). */
  private[staging] def readMarker(p: java.nio.file.Path): Option[java.util.Properties] =
    if (!java.nio.file.Files.exists(p)) None
    else try {
      val props = new java.util.Properties()
      val in = java.nio.file.Files.newInputStream(p)
      try props.load(in) finally in.close()
      Some(props)
    } catch { case _: java.io.IOException => None }

  private[staging] def writeMarker(p: java.nio.file.Path, kv: Map[String, String]): Unit = {
    val props = new java.util.Properties()
    kv.foreach { case (k, v) => props.setProperty(k, v) }
    val out = java.nio.file.Files.newOutputStream(p)
    try props.store(out, null) finally out.close()
  }

  /** Stage a derived frame to /tmp parquet once per (input content,
    * [[logicDigest]]) and read it back — the shared mechanics behind
    * every staged artifact: digest-keyed path, [[stagedRefs]] in-process
    * dedup, a marker-gated CROSS-JVM reuse probe ([[inputFingerprint]]
    * over `inputs` + `_SUCCESS`), and a plain columnar re-read for every
    * consumer. Staging is thereby paid once at ingest — the production
    * posture — instead of once per process; a mutated input dir changes
    * the fingerprint and rebuilds (EndToEndSpec pins both directions). */
  private[staging] def stagedParquet(s: SparkSession, dir: String, prefix: String,
      inputs: Seq[String])(build: => DataFrame): DataFrame = {
    // the CODE digest is part of the path, not only the marker: two
    // coexisting builds (the matched-A/B control-vs-treatment protocol
    // runs exactly that) must never alternate-clobber one /tmp location
    // — distinct paths let each build keep its staging warm, and a
    // mid-scan delete by a DIFFERENT build's JVM becomes impossible.
    // Two cold JVMs of the SAME build remain a race, which is what the
    // build lock below serializes.
    val path = s"/tmp/graft_${prefix}_${dirDigest(dir)}_${logicDigest.take(8)}"
    val marker = java.nio.file.Paths.get(path, StagingMarkerName)
    if (stagedRefs.add(path)) {
      try {
        val fp = logicDigest + ":" + inputFingerprint(dir, inputs)
        def reusable = readMarker(marker).exists(_.getProperty("fp") == fp) &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))
        if (!reusable) withBuildLock(path) {
          // double-checked: the lock's previous holder may have completed
          // this exact staging while we waited
          if (!reusable) {
            build.write.mode("overwrite").parquet(path)
            writeMarker(marker, Map("fp" -> fp))
            // a rebuild at an EXISTING path is the one case where the
            // path's schema may change within this JVM — drop the cached
            // inferred schema so the re-read below re-infers
            graft.sources.Tables.invalidateSchema(path)
          }
        }
      } catch { case t: Throwable =>
        // un-poison on failure: a half-written staging must not satisfy
        // this JVM's later fast-path accesses (they would read partial
        // part-files with no rebuild possible) — drop the ref so the next
        // access re-probes and rebuilds
        stagedRefs.remove(path); throw t
      }
    }
    // liveness touch on EVERY access, not only the fresh-JVM probe: the
    // GC age guard reads the marker mtime, and a long-lived JVM reusing
    // through the in-process fast path must keep its staging out of a
    // coexisting build's sweep
    touchMarker(marker)
    // schema-cached read (Tables.parquet): a bare read re-infers the
    // schema with a ~20 ms driver footer job on EVERY staged-frame
    // access — a pure-metadata cost the bench paid hundreds of times
    // per pass (r16; rationale at Tables.schemaCache)
    graft.sources.Tables.parquet(s, path)
  }

  /** The registered catalog name for a staged bucketed table: the
    * caller's base name plus the code-digest suffix ([[stagedParquet]]'s
    * coexistence rule). Name-returning helpers and tests resolve through
    * this so the suffix never drifts. */
  private[graft] def stagedTableName(name0: String): String =
    s"${name0}_${logicDigest.take(8)}"

  /** Eagerly reclaim a PROBE-ONLY staging (r14 ADVICE: ScaleProbe's
    * b16t/b32t experiment tables carry the current code digest, so the
    * sweep's keep-by-digest rule preserves them until the NEXT recompile
    * plus the age-out — silent disk growth on probe hosts). Drops the
    * catalog entry, deletes the staging location (files + marker + lock
    * sibling), and forgets the in-process ref so a later same-JVM call
    * rebuilds cleanly. Probe cells call this in their `finally`. */
  private[graft] def dropProbeStaging(s: SparkSession, name0: String): Unit = {
    val name = stagedTableName(name0)
    try s.sql(s"DROP TABLE IF EXISTS $name"): Unit
    catch { case scala.util.control.NonFatal(_) => () }
    val loc = warehousePathFromConf(
      s.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).resolve(name)
    try graft.etl.Context.deleteRecursively(loc)
    catch { case scala.util.control.NonFatal(_) => () }
    try java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(loc.toString + ".lock")): Unit
    catch { case scala.util.control.NonFatal(_) => () }
    stagedRefs.remove(name): Unit
  }

  /** Stage a derived frame as a BUCKETED managed table once per (input
    * content, [[logicDigest]]) — [[stagedParquet]]'s discipline for the
    * bucketed layouts. Cross-JVM reuse has one extra step: the session
    * catalog is in-memory, so a completed previous write survives only as
    * files; the probe re-registers the SAME bucket DDL over the existing
    * location (bucket ids live in the file names, so the layout metadata
    * reattaches losslessly) and verifies the marker's row count before
    * trusting it. Any mismatch — fingerprint, epoch, count — drops to a
    * full rebuild. */
  private[staging] def stagedBucketedTable(s: SparkSession, dir: String, name0: String,
      key: String, buckets: Int, inputs: Seq[String])
      (build: => DataFrame): DataFrame = {
    // same coexistence rule as stagedParquet: the table name (and so the
    // warehouse location) carries the code digest, so A/B trees never
    // alternate-clobber one staging
    val name = stagedTableName(name0)
    // EXTERNAL registration over the staging location — both on reuse and
    // right after a fresh build: an external table's DROP never deletes
    // the (marker-certified) files, so a catalog reset between the write
    // and a later probe can never destroy a valid staging; rebuilds
    // delete explicitly below.
    def register(schemaDdl: String, loc: java.nio.file.Path): Unit = {
      s.sql(s"DROP TABLE IF EXISTS $name")
      s.sql(s"CREATE TABLE $name ($schemaDdl) " +
        s"USING PARQUET CLUSTERED BY ($key) SORTED BY ($key) " +
        s"INTO $buckets BUCKETS LOCATION '${loc.toUri}'")
    }
    // same decode as the sweep reader (warehousePathFromConf) — divergent
    // decoders would write stagings under a path the sweep never scans
    val loc = warehousePathFromConf(
      s.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).resolve(name)
    val marker = loc.resolve(StagingMarkerName)
    if (stagedRefs.add(name)) {
      try {
        val fp = logicDigest + ":" + inputFingerprint(dir, inputs)
        // the bucket spec is PART of the layout contract: a staging written
        // under a different (key, buckets) must never re-register under the
        // caller's current DDL — bucket metadata would lie about the files
        // and silently corrupt every exchange-free join built on it
        def reused = readMarker(marker).exists { m =>
          m.getProperty("fp") == fp && m.getProperty("schema") != null &&
            m.getProperty("rows") != null && m.getProperty("key") == key &&
            m.getProperty("buckets") == buckets.toString && {
              register(m.getProperty("schema"), loc)
              s.table(name).count() == m.getProperty("rows").toLong || {
                s.sql(s"DROP TABLE IF EXISTS $name"); false
              }
            }
        }
        // the WHOLE probe runs under the lock (unlike stagedParquet's
        // marker-only probe): it has side effects — a register and a
        // verification count over the staged files — that must not race
        // a concurrent same-build rebuild deleting those files
        withBuildLock(loc.toString) {
          if (!reused) {
            s.sql(s"DROP TABLE IF EXISTS $name")
            graft.etl.Context.deleteRecursively(loc)
            // explicit path -> the table is born EXTERNAL at its staging
            // location (see writeBucketed): no managed-DROP can ever delete a
            // marker-certified staging out from under a later probe
            graft.sources.Tables.writeBucketed(build, name, key, buckets,
              Some(loc.toUri.toString))
            writeMarker(marker, Map("fp" -> fp,
              "rows" -> s.table(name).count().toString,
              "schema" -> s.table(name).schema.toDDL,
              "key" -> key, "buckets" -> buckets.toString))
          }
        }
      } catch { case t: Throwable =>
        // un-poison on failure (see stagedParquet)
        stagedRefs.remove(name); throw t
      }
    }
    // liveness touch on every access (see stagedParquet)
    touchMarker(marker)
    s.table(name)
  }
}
