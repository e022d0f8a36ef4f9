package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftx.GraftCacheBridge

/** ActionPool's one failure rule (skip what has not started, rethrow a
  * fatal error at once, otherwise settle then throw the first failure in
  * submission order) and what every task inherits from its scope: the
  * job group it is named by, the caller's local properties, and a daemon
  * thread.
  */
class ActionPoolSpec extends SparkSpec {

  private val GroupKey = "spark.jobGroup.id"

  describe("ActionPool") {
    it("waits for every task before throwing the first non-fatal failure") {
      val finished = new AtomicInteger()
      val ex = intercept[IllegalStateException](ActionPool.run(spark) { pool =>
        pool.submit("slow") { Thread.sleep(200); finished.incrementAndGet(); () }
        pool.submit("first")(throw new IllegalStateException("first"))
        pool.submit("second")(throw new IllegalArgumentException("second"))
      })
      assert(ex.getMessage === "first")
      assert(finished.get === 1, "returned before the slow job settled")
    }

    it("rethrows a fatal error without waiting for the other tasks") {
      // bounded, so a scope that does wait fails the time check below
      // instead of hanging the suite
      val release = new CountDownLatch(1)
      try {
        val t0 = System.nanoTime()
        intercept[StackOverflowError](ActionPool.run(spark) { pool =>
          pool.submit("blocked")(release.await(60, TimeUnit.SECONDS))
          pool.submit("fatal")(throw new StackOverflowError("fatal"))
        })
        assert(release.getCount === 1L, "waited for the blocked job")
        assert((System.nanoTime() - t0) / 1e9 < 30.0)
      } finally release.countDown()
    }

    it("never starts a task queued behind a failure") {
      // the failing task's thread is the only one free while the other
      // ActionPool.Width - 1 sleep, so it is the thread that dequeues the
      // task queued behind them — after it recorded its own failure
      val ran = new AtomicInteger()
      val ex = intercept[IllegalStateException](ActionPool.run(spark) { pool =>
        pool.submit("fails")(throw new IllegalStateException("fails"))
        (1 until ActionPool.Width).foreach(i =>
          pool.submit(s"busy$i")(Thread.sleep(500)))
        pool.submit("queued")(ran.incrementAndGet())
      })
      assert(ex.getMessage === "fails")
      assert(ran.get === 0, "a queued task started after a failure")
    }

    it("waits for started tasks when the scope body itself throws") {
      val finished = new AtomicInteger()
      val started = new CountDownLatch(1)
      val ex = intercept[IllegalStateException](ActionPool.run(spark) { pool =>
        pool.submit("slow") {
          started.countDown(); Thread.sleep(200); finished.incrementAndGet()
        }
        started.await()
        throw new IllegalStateException("body")
      })
      assert(ex.getMessage === "body")
      assert(finished.get === 1, "rethrew before the started task ended")
    }

    it("runs each task's jobs under its name and clears the group afterwards") {
      val sc = spark.sparkContext
      val groups = ConcurrentHashMap.newKeySet[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
            .filter(_.startsWith("pool:")).foreach(groups.add)
      }
      sc.addSparkListener(listener)
      try {
        val walls = ActionPool.run(spark) { pool =>
          pool.submit("pool:a")(spark.range(10).count())
          pool.submit("pool:b")(spark.range(20).count())
        }
        assert(walls.map(_._1) === Seq("pool:a", "pool:b"))
        assert(walls.forall(_._2 >= 0.0))
        GraftCacheBridge.drainListenerBus(spark)
        import scala.jdk.CollectionConverters._
        assert(groups.asScala.toSet === Set("pool:a", "pool:b"))
      } finally sc.removeSparkListener(listener)
      // a pool thread carries the group only around its task's body
      var (during, after) = ("unset", "unset")
      val t = new Thread(() => {
        during = ActionPool.named(sc, "pool:c")(sc.getLocalProperty(GroupKey))
        after = sc.getLocalProperty(GroupKey)
      })
      t.start(); t.join()
      assert(during === "pool:c" && after === null)
    }

    it("lets every task see a local property the caller set before the scope") {
      val sc = spark.sparkContext
      val seen = new ConcurrentHashMap[String, String]()
      sc.setLocalProperty("graft.test.span", "42")
      try ActionPool.run(spark) { pool =>
        Seq("x", "y").foreach(n => pool.submit(n)(
          seen.put(n, String.valueOf(sc.getLocalProperty("graft.test.span")))))
      } finally sc.setLocalProperty("graft.test.span", null)
      assert(seen.get("x") === "42" && seen.get("y") === "42")
    }

    it("runs its tasks on daemon threads") {
      val daemon = new ConcurrentHashMap[String, java.lang.Boolean]()
      ActionPool.run(spark) { pool =>
        Seq("x", "y").foreach(n =>
          pool.submit(n)(daemon.put(n, Thread.currentThread.isDaemon)))
      }
      import scala.jdk.CollectionConverters._
      assert(daemon.size === 2 && daemon.values.asScala.forall(_.booleanValue))
    }
  }
}
