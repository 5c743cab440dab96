package graft

/** r10 verdict "What's wrong #2": capstone v2 persisted its gated frame
  * and never unpersisted — a CacheManager-pinned, corpus-sized cache
  * stranded per execution (at 100 TB, a storage leak; in the 96-query
  * bench session, plausible cause of the degraded second pass). Each
  * capstone entry now runs in a [[Pins]] scope of its own, which
  * releases every intermediate pin once the result is materialized;
  * this spec proves no persisted RDD outlives a capstone run.
  *
  * The entry hands its checkpointed result to the caller, outside any
  * scope, so that one checkpoint is left to the ContextCleaner once the
  * frame is unreferenced. A CacheManager-pinned cache can NEVER be
  * GC-reclaimed (the session holds a strong reference), so polling
  * getPersistentRDDs back down to the pre-run set, with a GC per poll,
  * catches exactly the leak class and tolerates the result's blocks
  * still in flight.
  */
class CacheLifecycleSpec extends SparkSpec {

  private def drainsTo(before: Set[Int], timeoutMs: Long = 60000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var leftover = spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before)
    while (leftover.nonEmpty && System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(500)
      leftover = spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before)
    }
    leftover.isEmpty
  }

  test("capstones leave no persisted RDD behind") {
    for (name <- Seq("x_pipeline_corpus", "x_pipeline_corpus_v2",
        "x_pipeline_corpus_v3", "x_pipeline_corpus_v3_precision",
        "x_pipeline_corpus_v4", "x_pipeline_corpus_v5")) {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      var df = SparkEntry.queries(name)(spark, sfDir)
      assert(df.count() > 0, s"$name returned no rows")
      df = null // drop the checkpointed frame so the cleaner can reclaim its blocks
      assert(drainsTo(before),
        s"$name left persisted RDDs pinned after completion: " +
          spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before).toSeq.sorted.mkString(","))
    }
  }
}
