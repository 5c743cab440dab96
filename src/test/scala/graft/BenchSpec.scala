package graft

/** The bench artifact must be self-adjudicating: failures are named,
  * never recorded as a plausible-looking time (r10 shipped 5 broken
  * queries with bogus-fast times and no marker), and every timing
  * carries process-CPU seconds so host contention (cpu ≪ wall) is
  * distinguishable from a plan regression without a re-run.
  */
class BenchSpec extends SparkSpec {

  test("a deliberately broken query surfaces as err, not a time") {
    val r = Bench.timeQuery("broken", () => throw new IllegalStateException("boom"))
    assert(r.err.contains("IllegalStateException"))
  }

  test("a working query records wall and cpu seconds, no err") {
    val r = Bench.timeQuery("ok", () => { Tables.region(spark, sfDir).count(); () })
    assert(r.err.isEmpty)
    assert(r.wall > 0.0)
    assert(r.cpu >= 0.0, "process CPU time unavailable — contention adjudication broken")
  }

  test("a query that strands a cache is flagged leaked; a clean one is not") {
    // Bench.main's per-query sequence: time the query, then poll leaks
    def timeAndPoll(name: String, run: () => Unit): Bench.QRun = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val r = Bench.timeQuery(name, run)
      r.copy(leaked = Bench.pollLeaks(spark, before))
    }
    val leaky = timeAndPoll("leaky", () => {
      val df = Tables.region(spark, sfDir).persist()
      df.count(); () // persisted, never released
    })
    assert(leaky.leaked > 0, "stranded cache not detected")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val clean = timeAndPoll("clean", () => {
      val df = Tables.region(spark, sfDir).persist()
      try { df.count(); () } finally df.unpersist()
    })
    assert(clean.leaked == 0, s"clean query flagged as leaking ${clean.leaked}")
    // a transient localCheckpoint registers too, but drains via the
    // ContextCleaner once the frame is dropped — must NOT be flagged
    val transient = timeAndPoll("transient", () => {
      Tables.region(spark, sfDir).localCheckpoint(true).count(); ()
    })
    assert(transient.leaked == 0,
      s"ContextCleaner-reclaimable checkpoint flagged as leak (${transient.leaked})")
  }

  test("a GC-heavy query records gc seconds; gc never exceeds wall") {
    // allocate hard enough to force at least one young-gen collection —
    // retry the burst a few times because a single pass can land inside
    // an already-charged collection window
    def burst(): Unit = {
      var sink = 0L
      var i = 0
      while (i < 40) { sink += new Array[Byte](32 << 20).length; i += 1 }
      assert(sink > 0)
    }
    var r = Bench.timeQuery("gc_heavy", burst _)
    var tries = 0
    while (r.gc <= 0.0 && tries < 5) { r = Bench.timeQuery("gc_heavy", burst _); tries += 1 }
    assert(r.gc > 0.0, "GC-heavy allocation burst recorded zero gc_sec")
    assert(r.gc <= r.wall + 0.5, s"gc ${r.gc} implausibly exceeds wall ${r.wall}")
  }
  test("spread classifier: the r17 driver-artifact flags replay to 0 actionable, real builds keep their kind") {
    import Bench.{QRun, spreadKindOf, isActionable}
    def q(name: String, wall: Double, cpu: Double, plan: String,
          inMb: Double, shMb: Double) =
      QRun(name, wall, cpu, None, plan = plan, inMb = inMb, shMb = shMb)

    // the five r17 BENCH_out.json actionable flags, per-pass numbers
    // verbatim: identical plan hashes, identical byte deltas — the
    // four slow-pass-FIRST ones classify env-churn (JVM/host CPU, not
    // query compute)
    val r17 = Seq(
      (q("x_ann_lsh", 2.7054, 8.0, "0ac65061f94c", 0.0, 0.1),
        q("x_ann_lsh", 0.4803, 1.0, "0ac65061f94c", 0.0, 0.1)),
      (q("x_ann_lsh_precision", 2.0656, 6.0, "8ec991aef00a", 0.0, 0.1),
        q("x_ann_lsh_precision", 0.4755, 1.0, "8ec991aef00a", 0.0, 0.1)),
      (q("x_ann_ivfpq_refined", 4.0602, 12.0, "f2e31abefca7", 0.0, 0.0),
        q("x_ann_ivfpq_refined", 0.7235, 1.0, "f2e31abefca7", 0.0, 0.0)),
      (q("x_ann_ivfpq_refined_precision", 13.2347, 40.0, "6533ef5a1ede", 0.0, 0.1),
        q("x_ann_ivfpq_refined_precision", 1.0697, 2.0, "6533ef5a1ede", 0.0, 0.1)))
    r17.foreach { case (a, b) =>
      assert(spreadKindOf(a, b).contains("env-churn"), s"${a.name}: ${spreadKindOf(a, b)}")
      assert(!isActionable(a.name, spreadKindOf(a, b).get), a.name)
    }

    // the fifth r17 flag was slow-pass-SECOND with a byte-identical
    // fingerprint: since ADVICE r18 that is its own VISIBLE kind
    // (warm-churn) so a repeat across artifacts reads as a warm
    // regression — still not actionable as a one-off (this exact flag
    // was hand-adjudicated JVM churn in r17)
    val u1 = q("x_unigram_logprob", 0.5376, 0.5, "700d8b9d6de3", 0.0, 0.0)
    val u2 = q("x_unigram_logprob", 2.3513, 4.0, "700d8b9d6de3", 0.0, 0.0)
    assert(spreadKindOf(u1, u2).contains("warm-churn"))
    assert(!isActionable("x_unigram_logprob", "warm-churn"))

    // j6's bucketed-layout build is a REAL pass-1 artifact build: its
    // shuffle bytes MOVE (6.3 -> 0.0 MB), so it keeps the honest
    // pass1-work kind — declared, hence still not actionable
    val j6a = q("j6_bucketed_join", 2.8049, 5.0, "823fc7fa31d0", 0.1, 6.3)
    val j6b = q("j6_bucketed_join", 0.8032, 1.0, "823fc7fa31d0", 0.1, 0.0)
    assert(spreadKindOf(j6a, j6b).contains("pass1-work"))
    assert(!isActionable("j6_bucketed_join", "pass1-work"))

    // an UNDECLARED build with moved bytes is actionable...
    assert(Bench.isActionable("some_new_query", "pass1-work"))
    // ...and so is true warm recomputation: pass 2 slower AND its
    // fingerprint moved (re-read the input it should have had pinned)
    val rec1 = q("recompute", 1.2, 3.0, "aaaa", 100.0, 10.0)
    val rec2 = q("recompute", 4.5, 14.0, "aaaa", 200.0, 20.0)
    assert(spreadKindOf(rec1, rec2).contains("pass2-work"))
    assert(isActionable("recompute", "pass2-work"))

    // a plan-divergent pair never classifies env-churn even with equal bytes
    val pd1 = q("plan_div", 1.2, 3.0, "aaaa", 50.0, 5.0)
    val pd2 = q("plan_div", 4.5, 14.0, "bbbb", 50.0, 5.0)
    assert(spreadKindOf(pd1, pd2).contains("pass2-work"))

    // host stall: extra wall with ~no extra CPU stays wall-stall
    val st1 = q("stall", 9.0, 2.2, "cccc", 50.0, 5.0)
    val st2 = q("stall", 2.0, 2.0, "cccc", 50.0, 5.0)
    assert(spreadKindOf(st1, st2).contains("wall-stall"))

    // sub-second spreads and clean pairs never flag
    assert(spreadKindOf(q("tiny", 0.9, 3.0, "d", 0.0, 0.0),
      q("tiny", 0.1, 0.1, "d", 0.0, 0.0)).isEmpty)
    assert(spreadKindOf(q("clean", 2.0, 4.0, "e", 1.0, 1.0),
      q("clean", 1.9, 3.8, "e", 1.0, 1.0)).isEmpty)
  }

  test("plan normalization masks JVM lambda-class indices (r19 verdict #2 — the media-family hash churn)") {
    // the r18→r19 churn: same plan, different classloader history —
    // only the $$Lambda$ counter moved
    val a = "MapPartitions graft.ops.Multimodal$$Lambda$3775/0x00000008016a1040@4b8b2d57, obj#123"
    val b = "MapPartitions graft.ops.Multimodal$$Lambda$4112/0x00000008019e2c38@77fe1fca, obj#99"
    assert(Bench.normalizePlan(a) == Bench.normalizePlan(b))
    assert(Bench.normalizePlan(a)
      == "MapPartitions graft.ops.Multimodal$$Lambda$_/0x_@_, obj#_")
    // a genuinely different function is still distinguished
    val c = "MapPartitions graft.ops.Dedup$$Lambda$3775/0x00000008016a1040@4b8b2d57, obj#123"
    assert(Bench.normalizePlan(a) != Bench.normalizePlan(c))
  }

  test("warm-churn repeating across consecutive artifacts promotes to actionable (ADVICE r19)") {
    import Bench.{isActionable, warmChurnNames}
    // prior artifact: one warm-churn, one env-churn
    val prior = """{"metric":"total","value":120.5,"spread_kind":""" +
      """{"x_dsir_weights":"warm-churn","x_quality_logit_trained":"env-churn"},""" +
      """"n_spread_actionable":0}"""
    assert(warmChurnNames(prior) == Set("x_dsir_weights"))
    // a repeat on the SAME query gates; a one-off or another query doesn't
    assert(isActionable("x_dsir_weights", "warm-churn", Set("x_dsir_weights")))
    assert(!isActionable("x_dsir_weights", "warm-churn", Set.empty))
    assert(!isActionable("x_other", "warm-churn", Set("x_dsir_weights")))
    // env-churn never promotes, whatever the prior artifact said
    assert(!isActionable("x_quality_logit_trained", "env-churn",
      Set("x_quality_logit_trained")))
    // artifacts without the map / with an empty map parse to no names
    assert(warmChurnNames("""{"metric":"total","value":1.0}""").isEmpty)
    assert(warmChurnNames("""{"spread_kind":{}}""").isEmpty)
    // the 2-arg form keeps its meaning (no prior artifact)
    assert(!isActionable("x_dsir_weights", "warm-churn"))
  }
}
