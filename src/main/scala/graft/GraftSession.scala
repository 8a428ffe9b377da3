package graft

import org.apache.spark.sql.SparkSession

/** The one session the engine's mains and its test base run on, so a plan
  * or a timing taken under one of them carries the same partition counts
  * and conf-dependent shapes as under any other. */
object GraftSession {
  /** Codegen CLASS cache size (static conf, default 100 entries): the 254-
    * query suite generates ~4-6k whole-stage-codegen units, so at the
    * default size every query's classes are evicted by its ~15 successors
    * and both timed bench passes re-run janino compilation for every
    * stage — the warm-up passes exist precisely to take compilation out of
    * the timed numbers, and the default cache size silently defeated them.
    * 5000 entries keeps every class of the suite resident (~250 MB driver
    * heap, measured stable under the 8 GiB driver). r15 A/B, full board:
    * 165.1 -> 138.4 s (-16%), median per-query ratio 0.72 on the 42-query
    * probe, no query regressed beyond noise. Scale-neutral: compiled-code
    * caching is JIT warmth, not data caching — every run still computes
    * from parquet. */
  val CodegenCacheMaxEntries = 5000

  /** AQE coalescing floor (default 1m): with parallelismFirst the
    * coalesced partition size is clamped BELOW by this floor, so any
    * shuffle under ~32 MB collapses to a handful of tasks — which
    * serializes the engine's compute-heavy, byte-light reducers (HLL
    * merges, jaccard verifies, posting folds: 100s of ms of CPU per MB, vs
    * ~ms of per-task overhead). 128k keeps those at full parallelism; the
    * floor never binds at cluster scale (it is irrelevant once
    * totalBytes/parallelism > 1 MB), so this is scale-neutral. r15 A/B
    * (two interleaved pairs, 46-query subset): board-neutral median,
    * consistent wins on q_prefix_join (−35-45%), q_web_corpus_funnel
    * (−20-25%), q_inverted_index (−20%), q_approx_distinct (−15-18%); no
    * consistent loser. */
  val AqeMinPartitionSize = "128k"

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else `default`. A
    * value that is not a positive integer fails here, before it can reach
    * a master URL or a JSON artifact. */
  def cpus(default: Int, env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS") match {
      case None => default
      case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  /** A `local[cpus]` session with one shuffle partition per core and the
    * graft SQL functions and optimizer rule ([[graft.plans.GraftExtensions]])
    * installed. */
  def build(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.sources.Tables.NanosAsLongConf, "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", AqeMinPartitionSize)
      .config("spark.ui.enabled", "false")
      // default is 30min — far longer than a bench session, so broadcast/
      // shuffle cleanup would otherwise never run between queries
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
}
