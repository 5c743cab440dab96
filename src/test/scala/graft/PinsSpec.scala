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

  test("Par.all runs at most limit actions at once on limit threads, awaits all, rethrows the first failure") {
    val running = new java.util.concurrent.atomic.AtomicInteger
    val most = new java.util.concurrent.atomic.AtomicInteger
    val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def action(i: Int): () => Int = () => {
      val now = running.incrementAndGet()
      most.accumulateAndGet(now, math.max)
      threads.add(Thread.currentThread())
      try {
        Thread.sleep(20)
        if (i == 3 || i == 7) throw new IllegalStateException(s"action $i")
        i * 10
      } finally { running.decrementAndGet(); ended.add(i) }
    }
    val before = pinned().keySet
    val e = intercept[IllegalStateException] {
      Pins.scoped {
        graft.ops.Par.all(3)((0 until 12).map(i => () => {
          // every action pins into the caller's scope
          Pins.checkpoint((1 to 3).toDF("x"), s"pins.all-$i")
          action(i)()
        }))
      }
    }
    assert(e.getMessage == "action 3" && e.getSuppressed.map(_.getMessage).toSeq == Seq("action 7"))
    assert(ended.size == 12, "an action was abandoned")
    assert(most.get <= 3 && threads.size <= 3, (most.get, threads.size))
    assert(leftSince(before).isEmpty)
    assert(graft.ops.Par.all(2)((1 to 5).map(i => () => i)) == (1 to 5))
    assert(graft.ops.Par.all(4)(Seq.empty[() => Int]).isEmpty)
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
