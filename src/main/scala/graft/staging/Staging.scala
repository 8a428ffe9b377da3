package graft.staging

import java.nio.file.{Files, FileSystemException, NoSuchFileException, Path, Paths,
  StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The staging lifecycle behind every staged artifact: content-addressed
  * paths directly under the session's warehouse dir ([[warehouseRoot]];
  * JVMs sharing a warehouse share stagings), one atomic commit, completion
  * markers, and the sweep that reclaims stagings stranded by a recompile.
  *
  * A staged path is named by what built it,
  * `graft_<prefix>_<dir8>_<input8>_<code8>` (input dir, input content,
  * compiled code), and is written exactly once: [[commit]] builds it in
  * a sibling `<path>.tmp-<uuid>`, writes the marker there, and publishes
  * with one atomic rename. Nothing is overwritten in place, so two cold
  * JVMs need no lock: both build, the first rename wins, the loser drops
  * its temp dir and reads the winner's. A changed input is a new path;
  * the staging of the old input under the same code is left in place
  * until the next recompile rotates the code digest and the sweep's
  * stale-digest rule reaps it.
  *
  * The staging entry points, [[stagedParquet]], [[stagedPath]] and
  * [[stagedBucketedTable]], are `private[staging]`: a frame is staged
  * only through an artifact recorded in [[StagedArtifacts]]. */
object Staging {

  /** Artifacts resolved in this JVM: artifact key -> published path.
    * Re-staging per bench pass would charge the one-time reference-ingest
    * cost to every timed run, so a resolved key skips the marker read
    * and the input-fingerprint walk. Entries are added only after their
    * commit returns, never inside a `compute`: builds nest (an artifact's
    * build may resolve another artifact). */
  private[staging] val stagedRefs = new java.util.concurrent.ConcurrentHashMap[String, Path]()

  /** Test hook: forget the in-process staging map, forcing the next
    * staged access through the cross-JVM reuse probe — the only way a
    * single-JVM spec can exercise the fresh-process path. */
  private[graft] def resetStagingRefsForTest(): Unit = stagedRefs.clear()

  /** Snapshot of the in-process artifact keys — Bench diffs it across its
    * timed loop to self-audit [[StagedArtifacts.prestageAll]]'s
    * completeness (a staging first touched INSIDE a timed pass was
    * staged outside the recorded artifacts). */
  private[graft] def stagedRefsSnapshot: Set[String] = {
    val it = stagedRefs.keySet.iterator()
    val b = Set.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result()
  }

  private[graft] val StagingMarkerName = "_GRAFT_STAGED.properties"

  /** Staging age guard: a STALE-digest staging or an orphaned temp dir
    * younger than this is left alone (it may belong to a live A/B partner
    * build — the matched control-vs-treatment protocol runs two builds
    * side by side for hours — or to a build still writing). Every access
    * refreshes the marker mtime ([[touchMarker]]), so an actively-read
    * staging never ages out regardless of when it was written. */
  private[graft] val StagingMaxAgeMillis: Long = 12 * 3600_000L

  /** Decode a `spark.sql.warehouse.dir` conf value to a filesystem path.
    * The conf value is a URI when Spark set it (file:/x, possibly
    * percent-encoded — a repo path with a space arrives as %20 and a
    * bare stripPrefix would resolve to a nonexistent dir); a plain path
    * when the user set it. Parse as URI first, fall back to the raw
    * string. */
  private[graft] def warehousePathFromConf(u: String): Path = {
    val viaUri = scala.util.Try(new java.net.URI(u)).toOption
      .filter(x => x.getScheme == "file" && x.getPath != null)
      .map(x => Paths.get(x.getPath))
    viaUri.getOrElse(Paths.get(u.stripPrefix("file:")))
  }

  /** The session's warehouse root, the one staging root — ONE resolution
    * shared by the staging WRITER ([[stage]]) and the sweep READER
    * ([[initStaging]]): with separate decoders an encoded path would
    * split them, and the sweep would silently skip the stagings. */
  private[graft] def warehouseRoot(s: SparkSession): Path =
    warehousePathFromConf(s.conf.get("spark.sql.warehouse.dir"))

  /** GC for stranded stagings (the digest-keyed coexistence rule's
    * cost): every recompile rotates [[logicDigest]] and strands the
    * previous build's parquet dirs and bucketed tables — a full artifact
    * set per recompile, monotone disk growth on any long-lived host.
    * Sweeps `root` for entries named
    * `graft_*_<8hex>` whose digest suffix differs from THIS build's and
    * whose marker (the entry's own mtime when no marker) is older than
    * `maxAgeMillis`; a stale-digest dotted sibling (the `.lock` files
    * earlier builds left behind) is reaped by the same rule. An orphaned
    * temp dir `graft_*_<8hex>.tmp-*` (a build that died before its
    * commit) is reaped past the age guard whatever its digest. Keep-guards beyond
    * the name gate (which alone means only graft-authored paths are ever
    * touched):
    *  - AGE: protects a coexisting build's warm staging — its JVM
    *    touches the marker on every access — and a build still writing
    *    its temp dir.
    *  - MARKER FP: a dir whose marker fingerprint leads with THIS
    *    build's [[logicDigest]] is this build's own artifact regardless
    *    of its name tail (the sweep must not depend on a naming
    *    convention it doesn't own).
    * Returns the deleted paths. */
  private[graft] def sweepStaleStagings(root: Path,
      maxAgeMillis: Long = StagingMaxAgeMillis,
      nowMillis: Long = System.currentTimeMillis()): Seq[Path] = {
    val keep = logicDigest.take(8)
    val pat = java.util.regex.Pattern.compile("^graft_.+_([0-9a-f]{8})(\\..+)?$")
    def olderThanGuard(stamp: Path): Boolean =
      try nowMillis - Files.getLastModifiedTime(stamp).toMillis > maxAgeMillis
      catch { case _: java.io.IOException => false }
    // marker-fp keep guard: fp is written as "<logicDigest>:<inputFp>"
    def markedByThisBuild(marker: Path): Boolean =
      readMarker(marker).exists { m =>
        Option(m.getProperty("fp")).exists(_.startsWith(logicDigest))
      }
    if (!Files.isDirectory(root)) return Nil
    val st = Files.list(root)
    val entries = try st.toArray.toSeq.map(_.asInstanceOf[Path]) finally st.close()
    entries.filter { p =>
      val m = pat.matcher(p.getFileName.toString)
      m.matches() && {
        val marker = p.resolve(StagingMarkerName)
        if (Option(m.group(2)).exists(_.startsWith(".tmp-"))) olderThanGuard(p)
        else m.group(1) != keep &&
          olderThanGuard(if (Files.exists(marker)) marker else p) &&
          !markedByThisBuild(marker)
      }
    }.flatMap { p =>
      // best-effort: an undeletable or concurrently-mutating stale
      // path (foreign owner, writer re-creating files mid-walk) must
      // not abort the entry point that volunteered to GC it
      try { graft.etl.Context.deleteRecursively(p); Some(p) }
      catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Entry-point startup hook (Bench, Verify, TimeQuery and JobProfile
    * call this right after the session is built): forces
    * [[logicDigest]] eagerly — a launcher that loads graft classes
    * without a code-source location fails HERE instead of bricking the
    * first staged query mid-run — then sweeps the session's warehouse so
    * strandings are reaped at the same cadence they are created. */
  private[graft] def initStaging(s: SparkSession): Unit = {
    logicDigest: Unit
    sweepStaleStagings(warehouseRoot(s)): Unit
  }

  /** Refresh a staging's marker mtime — the liveness signal
    * [[sweepStaleStagings]]'s age guard reads, so an actively-consumed
    * staging is never reaped no matter how old its build is. */
  private[staging] def touchMarker(p: Path): Unit =
    try Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch { case _: java.io.IOException => () }

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
    * JobProfile JVMs all reuse each other's stagings. The production
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
    val root = Paths.get(src.getLocation.toURI)
    if (Files.isDirectory(root)) {
      val pkg = root.resolve("graft")
      val files = Files.walk(pkg)
      try files.filter(Files.isRegularFile(_))
        .sorted(java.util.Comparator.comparing[Path, String](_.toString))
        .forEach { p =>
          md.update(root.relativize(p).toString.getBytes("UTF-8"))
          md.update(Files.readAllBytes(p))
        }
      finally files.close()
    } else md.update(Files.readAllBytes(root))
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
    def walk(p: Path): Unit =
      if (Files.isDirectory(p)) {
        val st = Files.list(p)
        try st.sorted().toArray.foreach(q => walk(q.asInstanceOf[Path]))
        finally st.close()
      } else md.update((p.toString + "|" + Files.size(p) + "|" +
        Files.getLastModifiedTime(p).toMillis + "\n").getBytes("UTF-8"))
    tables.sorted.foreach { t =>
      val p = Paths.get(dir, s"$t.parquet")
      if (Files.exists(p)) walk(p)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The staging marker sidecar: written into the temp dir before the
    * publishing rename (so a published dir always holds it),
    * underscore-prefixed (so Spark's file index never reads it as
    * data). */
  private[staging] def readMarker(p: Path): Option[java.util.Properties] =
    if (!Files.exists(p)) None
    else try {
      val props = new java.util.Properties()
      val in = Files.newInputStream(p)
      try props.load(in) finally in.close()
      Some(props)
    } catch { case _: java.io.IOException => None }

  private[staging] def writeMarker(p: Path, kv: Map[String, String]): Unit = {
    val props = new java.util.Properties()
    kv.foreach { case (k, v) => props.setProperty(k, v) }
    val out = Files.newOutputStream(p)
    try props.store(out, null) finally out.close()
  }

  private def tmpSibling(p: Path): Path =
    p.resolveSibling(s"${p.getFileName}.tmp-${java.util.UUID.randomUUID()}")

  /** The one commit behind every staged artifact: make `path` a
    * published staging of fingerprint `fp` that passes `attach`.
    *
    * A published dir whose marker carries `fp` is attached and reused.
    * Otherwise (no dir, a marker from other code or input, or an attach
    * that rejects it — a bucketed table whose row count disagrees) the
    * dir is renamed aside and deleted, and `write` builds the staging in
    * a fresh temp sibling; its returned entries plus `fp` become the
    * marker, written in the temp dir, and one `ATOMIC_MOVE` publishes it.
    * A published dir always holds its marker, so it is never empty, and
    * a rename onto it fails (`Directory not empty`): that failure with a
    * marker at `path` means a concurrent builder won, and this build's
    * temp dir is dropped in favour of the winner's. The temp dir is
    * deleted on every exit, so a failed write leaves nothing behind and
    * the next access rebuilds. The 100 TB analogue is a table format's
    * commit — readers never see a partial snapshot. */
  private[graft] def commit(path: Path, fp: String)
      (attach: (Path, java.util.Properties) => Boolean)
      (write: Path => Map[String, String]): Unit = {
    def attached: Boolean = readMarker(path.resolve(StagingMarkerName))
      .exists(m => m.getProperty("fp") == fp && attach(path, m))
    if (!attached) {
      if (Files.exists(path)) {
        val aside = tmpSibling(path)
        // a concurrent JVM may have moved it aside first
        try Files.move(path, aside, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: NoSuchFileException => () }
        graft.etl.Context.deleteRecursively(aside)
      }
      val tmp = tmpSibling(path)
      try {
        val kv = write(tmp)
        writeMarker(tmp.resolve(StagingMarkerName), kv + ("fp" -> fp))
        try Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
        catch { case e: FileSystemException =>
          if (!Files.exists(path.resolve(StagingMarkerName))) throw e
        }
      } finally graft.etl.Context.deleteRecursively(tmp)
      if (!attached)
        throw new IllegalStateException(s"staging $path fails its check right after its commit")
    }
  }

  /** Resolve the artifact `name0` (a `graft_<prefix>_<dir8>` base name,
    * distinct across parquet and bucketed artifacts, which share the root)
    * under the session's warehouse: on first use in this JVM, [[commit]]
    * it at its content-addressed path; every access touches its marker. */
  private def stage(s: SparkSession, name0: String, dir: String, inputs: Seq[String])
      (attach: (Path, java.util.Properties) => Boolean)
      (write: Path => Map[String, String]): Path = {
    val root = warehouseRoot(s)
    val key = root.resolve(name0).toString
    val path = Option(stagedRefs.get(key)).getOrElse {
      val input = inputFingerprint(dir, inputs)
      val p = root.resolve(s"${name0}_${input.take(8)}_${logicDigest.take(8)}")
      commit(p, logicDigest + ":" + input)(attach)(write)
      stagedRefs.put(key, p)
      p
    }
    // liveness touch on EVERY access, not only the fresh-JVM probe: the
    // GC age guard reads the marker mtime, and a long-lived JVM reusing
    // through the in-process fast path must keep its staging out of a
    // coexisting build's sweep
    touchMarker(path.resolve(StagingMarkerName))
    path
  }

  /** Stage files under the session's warehouse once per (input content,
    * [[logicDigest]]): `write` fills the directory it is given, and the
    * published path is returned. A mutated input dir changes the
    * fingerprint and stages a new path (PlanSpec pins both directions). */
  private[staging] def stagedPath(s: SparkSession, prefix: String, dir: String,
      inputs: Seq[String])(write: Path => Unit): Path =
    stage(s, s"graft_${prefix}_${dirDigest(dir)}", dir, inputs)(
      (_, _) => true) { tmp => write(tmp); Map.empty }

  /** Stage a derived frame as parquet ([[stagedPath]]) and read it
    * back with the schema-cached read: a bare read re-infers the schema
    * with a ~20 ms driver footer job on EVERY staged-frame access (r16;
    * rationale at Tables.schemaCache). A published path never changes,
    * so its cached schema never goes stale. */
  private[staging] def stagedParquet(s: SparkSession, dir: String, prefix: String,
      inputs: Seq[String])(build: => DataFrame): DataFrame =
    graft.sources.Tables.parquet(s, stagedPath(s, prefix, dir, inputs) { tmp =>
      build.write.parquet(tmp.toString)
    }.toString)

  /** The registered catalog name for a staged bucketed table: the
    * caller's base name plus the code-digest suffix (the coexistence
    * rule). Name-returning helpers and tests resolve through this so the
    * suffix never drifts. */
  private[graft] def stagedTableName(name0: String): String =
    s"${name0}_${logicDigest.take(8)}"

  /** Stage a derived frame as a BUCKETED table once per (input content,
    * [[logicDigest]]) — [[stagedParquet]]'s commit for the bucketed
    * layouts, under the session's warehouse. The session catalog is
    * in-memory, so a staging survives a JVM only as files: the attach
    * step registers the bucket DDL as an EXTERNAL table over the
    * published location (bucket ids live in the file names, so the layout
    * metadata reattaches losslessly) and verifies the marker's row count.
    * A fresh build writes to the temp location, is renamed, and then
    * attaches through the same step, so fresh and reused builds register
    * one way. An external table's DROP never deletes the
    * (marker-certified) files. */
  private[staging] def stagedBucketedTable(s: SparkSession, dir: String, name0: String,
      key: String, buckets: Int, inputs: Seq[String])
      (build: => DataFrame): DataFrame = {
    val name = stagedTableName(name0)
    // the bucket spec is PART of the layout contract: a staging written
    // under a different (key, buckets) must never re-register under the
    // caller's current DDL — bucket metadata would lie about the files
    // and silently corrupt every exchange-free join built on it
    stage(s, name0, dir, inputs) { (loc, m) =>
      m.getProperty("schema") != null && m.getProperty("rows") != null &&
        m.getProperty("key") == key && m.getProperty("buckets") == buckets.toString && {
          s.sql(s"DROP TABLE IF EXISTS $name")
          s.sql(s"CREATE TABLE $name (${m.getProperty("schema")}) " +
            s"USING PARQUET CLUSTERED BY ($key) SORTED BY ($key) " +
            s"INTO $buckets BUCKETS LOCATION '${loc.toUri}'")
          s.table(name).count() == m.getProperty("rows").toLong || {
            s.sql(s"DROP TABLE IF EXISTS $name"); false
          }
        }
    } { tmp =>
      graft.sources.Tables.writeBucketed(build, name, key, buckets, Some(tmp.toUri.toString))
      val written = s.table(name)
      Map("rows" -> written.count().toString, "schema" -> written.schema.toDDL,
        "key" -> key, "buckets" -> buckets.toString)
    }
    s.table(name)
  }
}
