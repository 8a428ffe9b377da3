package graft

import graft.staging.{StagedArtifacts, Staging}

/** Pins [[StagedArtifacts.prestageAll]]'s completeness at TEST time (r13
  * verdict #3): the runtime `late_staged` self-audit only fires when a
  * Bench actually runs — a staging that bypasses the artifacts
  * [[StagedArtifacts]] records silently degrades the build/warm split
  * until someone reads stderr. Here: prestage everything, snapshot the
  * staged-ref set, CONSTRUCT every registered query (staging happens
  * eagerly inside the query closures, so construction alone exercises
  * every staged path), and assert the set did not grow. */
class PrestageSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("prestageAll covers every staged artifact the registered queries touch") {
    // stagedRefs is JVM-global: earlier suites in the same sbt run have
    // already staged artifacts, and a pre-populated set would HIDE a
    // missing prestage entry (the ref is present before the snapshot) —
    // reset so this test exercises prestageAll from a clean set exactly
    // like a fresh Bench JVM does
    Staging.resetStagingRefsForTest()
    StagedArtifacts.prestageAll(spark, dir)
    val preStaged = Staging.stagedRefsSnapshot
    // construction only — the staged helpers run (and register) inside
    // the closures; executing 254 queries here would re-run Verify
    var seen = preStaged
    val lateByQuery = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, dir): Unit
        val now = Staging.stagedRefsSnapshot
        val late = now -- seen
        seen = now
        late.map(name -> _)
    }
    assert(lateByQuery.isEmpty,
      "staged artifacts first touched OUTSIDE prestageAll (add them to " +
        s"the prestage list): ${lateByQuery.distinct.mkString(", ")}")

    // LAZY-STAGING NET (r14 ADVICE): the construction walk above only
    // catches helpers that stage eagerly at query build — a future
    // helper staging lazily inside an action would register nothing
    // during construction, leaving this pin green while Bench
    // late-stages at timed-pass time (the runtime late_staged counter
    // would then be the only net, and it only fires on a real Bench).
    // A bounded limit(1) execution per query closes that class here:
    // whatever staging a real run would trigger registers during these
    // executions, and the staged set must STILL not grow past
    // prestageAll's. Cheap at sf0.001 (CollectLimit short-circuits
    // scans; aggregates are fixture-sized).
    var seenExec = seen
    val lateByExec = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, dir).limit(1).queryExecution.toRdd.count(): Unit
        val now = Staging.stagedRefsSnapshot
        val late = now -- seenExec
        seenExec = now
        late.map(name -> _)
    }
    assert(lateByExec.isEmpty,
      "staged artifacts first registered during EXECUTION, not " +
        "construction (a lazily-staging helper missing from prestageAll): " +
        lateByExec.distinct.mkString(", "))
  }
}
