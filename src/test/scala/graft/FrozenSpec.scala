package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import graft.etl.Frozen

/** The shared frozen-statics memo: one build per (SparkContext, dir)
  * under concurrency, a fresh build for a new context, and a failed
  * warm-up that fails its dependents fast instead of rebuilding inside
  * a timed region. */
class FrozenSpec extends SparkSpec {

  test("concurrent first callers build a frozen static once") {
    val builds = new AtomicInteger(0)
    val f = Frozen("concurrent") { (s, _) =>
      builds.incrementAndGet()
      Thread.sleep(300) // hold the build open while the others arrive
      s.range(3).toDF().localCheckpoint()
    }
    val pool = Executors.newFixedThreadPool(8)
    try {
      val go = new CountDownLatch(1)
      val calls = (1 to 8).map(_ => pool.submit(new Callable[DataFrame] {
        def call(): DataFrame = { go.await(); f(spark, "dirA") }
      }))
      go.countDown()
      val frames = calls.map(_.get(120, TimeUnit.SECONDS))
      assert(builds.get === 1)
      assert(frames.forall(_ eq frames.head))
    } finally pool.shutdown()
    // another fixture dir is another static
    assert(f(spark, "dirB").count() === 3L)
    assert(builds.get === 2)
  }

  test("after a failed warm, a dependent bench entry records -1 and " +
      "does not build inside the timed region") {
    val builds = new AtomicInteger(0)
    val f = Frozen[DataFrame]("failing_index") { (_, _) =>
      builds.incrementAndGet()
      throw new IllegalStateException("index build failed")
    }
    Frozen.warm(spark, "d", Seq(f))
    assert(builds.get === 1)
    val t = Bench.capped(spark, capSec = 60.0, "dependent_entry") {
      f(spark, "d").write.format("noop").mode("overwrite").save()
    }
    assert(t === -1.0)
    assert(builds.get === 1, "the entry rebuilt the static in-pass")
  }

  // stops the suite's context: keep this test last in the suite
  test("a new SparkContext gets a fresh build; a frame of the stopped " +
      "context is never served") {
    val builds = new AtomicInteger(0)
    val f = Frozen("per_context") { (s, _) =>
      builds.incrementAndGet()
      s.range(5).toDF().localCheckpoint()
    }
    val first = f(spark, "d")
    assert(f(spark, "d") eq first)
    spark.stop()
    val fresh = SparkSpec.session()
    assert(fresh.sparkContext ne first.sparkSession.sparkContext)
    val second = f(fresh, "d")
    assert(builds.get === 2)
    assert(second.sparkSession.sparkContext eq fresh.sparkContext)
    assert(second.count() === 5L)
  }
}
