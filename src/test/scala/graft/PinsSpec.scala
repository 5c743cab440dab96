package graft

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
}
