package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.Tables

/** PlanCache hygiene (round-2 ADVICE): the memo must never persist the
  * same key twice under a thread race (the loser's blocks would stay
  * pinned until session shutdown), and entries keyed by a session that
  * is gone must be evictable so a long-lived multi-session service
  * cannot accumulate pinned sessions.
  */
class PlanCacheSpec extends SparkTestBase {

  test("racing memo() calls build and persist exactly once") {
    PlanCache.clear()
    val builds = new AtomicInteger(0)
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    val futures = (1 to 8).map { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          PlanCache.memo(spark, sfDir, "race_key") {
            builds.incrementAndGet()
            Tables.nation(spark, sfDir)
          }
        }
      })
    }
    gate.countDown()
    futures.foreach(_.get(60, TimeUnit.SECONDS))
    pool.shutdown()
    assert(builds.get() == 1,
      s"build thunk ran ${builds.get()} times under the race")
    assert(PlanCache.size == 1)
    PlanCache.clear()
  }

  test("nested memo() calls (a build that memoizes a sub-frame) work") {
    PlanCache.clear()
    val outer = PlanCache.memo(spark, sfDir, "outer") {
      val inner = PlanCache.memo(spark, sfDir, "inner") {
        Tables.region(spark, sfDir)
      }
      inner.select("r_name")
    }
    assert(outer.count() == 5 && PlanCache.size == 2)
    PlanCache.clear()
  }

  test("entries of a dead session are evicted; the live session's stay") {
    PlanCache.clear()
    val s2 = spark.newSession()
    PlanCache.memo(spark, sfDir, "live")(Tables.nation(spark, sfDir))
    PlanCache.memo(s2, sfDir, "doomed")(Tables.nation(s2, sfDir))
    assert(PlanCache.size == 2)
    // the prune predicate in memo() is sparkContext.isStopped; drive
    // the same eviction core with "is s2" since newSession() shares
    // the one test SparkContext and cannot be stopped independently
    PlanCache.evictWhere(_ eq s2)
    assert(PlanCache.size == 1)
    // the surviving entry is the live session's
    val again = PlanCache.memo(spark, sfDir, "live") {
      fail("live entry should still be cached"): org.apache.spark.sql.DataFrame
    }
    assert(again.count() == 25)
    PlanCache.clear()
  }

  test("scalar memo caches per (session, dir, key) and evicts dead sessions") {
    PlanCache.clear()
    val builds = new AtomicInteger(0)
    def probe(s: org.apache.spark.sql.SparkSession): Boolean =
      PlanCache.memoScalar(s, sfDir, "scalar_probe") {
        builds.incrementAndGet(); true
      }
    assert(probe(spark) && probe(spark) && builds.get() == 1,
      "second read must hit the memo")
    // a discarded session's scalar entries must be evictable — the
    // round-16 cloneMassMemo leak: a ConcurrentHashMap keyed by
    // (session, dir) with no pruning pins every dead session forever
    val s2 = spark.newSession()
    probe(s2)
    assert(PlanCache.scalarSize == 2)
    PlanCache.evictWhere(_ eq s2)
    assert(PlanCache.scalarSize == 1,
      "dead session's scalar entries must be evicted")
    assert(probe(spark) && builds.get() == 2,
      "live session's entry must survive the eviction")
    PlanCache.clear()
    assert(PlanCache.scalarSize == 0)
  }
}
