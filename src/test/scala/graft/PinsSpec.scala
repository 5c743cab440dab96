package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions._

class PinsSpec extends SparkSpec {
  import spark.implicits._

  private def pinned(): Map[Int, String] =
    spark.sparkContext.getPersistentRDDs.map { case (id, rdd) => id -> rdd.name }.toMap

  // pins taken since `before`; compared as a difference because the
  // ContextCleaner may free an earlier suite's unscoped checkpoints at
  // any GC, shrinking the set under the test
  private def leftSince(before: Set[Int]): Map[Int, String] =
    pinned().filter { case (id, _) => !before(id) }

  test("a scope releases its pins on exit, nested scopes only their own") {
    val before = pinned().keySet
    val df = (1 to 100).toDF("x")
    Pins.scoped {
      val outer = Pins.checkpoint(df, "pins.outer")
      Pins.scoped {
        Pins.persist(df.filter($"x" > 1), "pins.cache").count()
        Pins.checkpoint(df.filter($"x" > 2), "pins.inner", eager = false)
        assert(pinned().values.toSet.contains("pins.inner"))
      }
      val left = leftSince(before)
      assert(left.values.toSeq == Seq("pins.outer"), s"inner scope released: $left")
      assert(outer.count() == 100)
    }
    assert(leftSince(before).isEmpty)
  }

  test("a scope releases its pins when its body throws; early release is not repeated") {
    val before = pinned().keySet
    intercept[IllegalStateException] {
      Pins.scoped {
        val a = Pins.checkpoint((1 to 10).toDF("x"), "pins.a")
        Pins.release(a)
        Pins.checkpoint((1 to 10).toDF("y"), "pins.b")
        throw new IllegalStateException("boom")
      }
    }
    assert(leftSince(before).isEmpty)
  }

  test("persist outside a scope throws; Par work pins into the caller's scope") {
    intercept[IllegalStateException](Pins.persist((1 to 3).toDF("x"), "pins.orphan"))
    val before = pinned().keySet
    Pins.scoped {
      val (a, b) = graft.ops.Par.both(
        Pins.checkpoint((1 to 5).toDF("x"), "pins.here"),
        Pins.checkpoint((1 to 5).toDF("x"), "pins.pool"))
      assert(a.count() == 5 && b.count() == 5)
    }
    assert(leftSince(before).isEmpty)
  }

  test("Par work runs under the caller's Spark local properties, not its pool thread's") {
    val sc = spark.sparkContext
    def group(): String = graft.ops.Par.await(
      graft.ops.Par.future(sc.getLocalProperty("spark.jobGroup.id")))
    try {
      sc.setJobGroup("pins.group-a", "first caller")
      assert(group() == "pins.group-a")
      // the pool thread that ran the first future is idle now and runs
      // this one too
      sc.setJobGroup("pins.group-b", "second caller")
      assert(group() == "pins.group-b")
    } finally sc.clearJobGroup()
    assert(group() == null)
  }

  /** The jobs `body` ran, by job group; the group ends with a marker
    * job the listener bus must deliver first, so the count is complete.
    */
  private def jobsOf(body: => Long): (Long, Int) = {
    val sc = spark.sparkContext
    val tag = s"pins.count-${System.nanoTime}"
    sc.setJobGroup(tag, "rowCount")
    val n = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$tag-marker", "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"$tag-marker").isEmpty) {
      assert(System.nanoTime < deadline, "the marker job never reached the status store")
      Thread.sleep(10)
    }
    (n, sc.statusTracker.getJobIdsForGroup(tag).length)
  }

  private def cacheBuilder(df: DataFrame) =
    spark.sharedState.cacheManager.lookupCachedData(df).get.cachedRepresentation.cacheBuilder

  test("rowCount reads a pin an earlier action fully built without a job") {
    Pins.scoped {
      val df = Pins.persist(spark.range(0, 1000, 1, 4).filter($"id" % 3 === 0).toDF(),
        "pins.built")
      df.write.format("noop").mode("overwrite").save()
      assert(cacheBuilder(df).isCachedColumnBuffersLoaded)
      assert(jobsOf(Pins.rowCount(df)) == ((334L, 0)))
    }
  }

  test("rowCount counts a pin a limit built only in part exactly") {
    Pins.scoped {
      val df = Pins.persist(spark.range(0, 1000, 1, 4).toDF(), "pins.partial")
      assert(df.limit(1).collect().length == 1)
      val builder = cacheBuilder(df)
      assert(!builder.isCachedColumnBuffersLoaded)
      assert(builder.rowCountStats.value > 0 && builder.rowCountStats.value < 1000,
        s"the limit built ${builder.rowCountStats.value} of 1000 rows, not a part")
      assert(Pins.rowCount(df) == 1000)
    }
  }

  test("rowCount falls back to count() on a pin nothing built and on a frame that is no pin") {
    Pins.scoped {
      val df = Pins.persist(spark.range(0, 500, 1, 2).toDF(), "pins.unbuilt")
      val (n, jobs) = jobsOf(Pins.rowCount(df))
      assert(n == 500 && jobs >= 1)
    }
    assert(Pins.rowCount(spark.range(0, 7).toDF()) == 7)
  }
}
