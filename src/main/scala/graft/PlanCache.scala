package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo for persisted intermediate frames.
  *
  * The dedup family shares expensive intermediates (the shingle set,
  * the MinHash signature table, the SimHash table) across several
  * contract queries. A bare `.persist()` inside each query fn pins a
  * NEW copy of the blocks on every invocation and never releases them
  * (the fn returns a lazy plan, so it cannot unpersist before the
  * caller has executed it). This memo fixes both problems:
  *
  *  - repeat invocations for the same (session, sfDir, key) return the
  *    SAME persisted frame — the cache footprint is bounded by the
  *    number of distinct intermediates, not the number of calls;
  *  - queries that share lineage (dedup_near_minhash /
  *    dedup_edit_distance / dedup_ngram_jaccard) compute the corpus
  *    scan + tokenize + hash pipeline once per session instead of once
  *    per query — at 100 TB the signature table is the thing you
  *    materialize, and you materialize it exactly once.
  *
  * `clear()` unpersists everything — harness mains call it before
  * `spark.stop()`, and specs use it to assert no leaked blocks.
  *
  * Freshness has one rule, and no writer takes part in it: any
  * `DataFrameWriter` insert (overwrite or append) whose output path is
  * a memo's read path, or a directory above it, re-lists the memo's
  * files and refills its blocks, through the insert command's
  * `CacheManager.recacheByPath`. So a saved artifact served from a
  * memo of its path is never stale after a same-session rebuild or
  * append, and a running stream holding the memo in its plan serves
  * the new files on its next micro-batch (an uncached read in a
  * running plan keeps its first file listing: deleted files fail the
  * batch, appended ones are never seen). `IndexStore.ensure`'s rename
  * publish is not an insert and refreshes nothing, which is why
  * stamped paths change instead of being rewritten in place.
  */
object PlanCache {
  private val cache = TrieMap.empty[(SparkSession, String, String), DataFrame]
  private val scalarCache = TrieMap.empty[(SparkSession, String, String), Any]

  def memo(s: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame = {
    pruneStopped()
    // fast path lock-free; the build+persist runs under a lock so two
    // racing threads can't both persist (TrieMap.getOrElseUpdate may
    // evaluate the thunk twice and silently leak the loser's blocks).
    // Reentrant, so memoized builds may call memo() for sub-frames.
    cache.get((s, dir, key)).getOrElse(synchronized {
      cache.getOrElseUpdate((s, dir, key), build.persist())
    })
  }

  /** Session-scoped memo for SCALAR planning statistics (routing
    * decisions, bounded probe reads). Same eviction discipline as the
    * frame memo — entries owned by stopped contexts are pruned on
    * every call — so a long-lived service cycling SparkContexts never
    * accumulates dead session references (the cloneMassMemo leak,
    * round-16 VERDICT). Values are driver-side scalars, so eviction is
    * just dropping the reference. */
  def memoScalar[T](s: SparkSession, dir: String, key: String)(
      build: => T): T = {
    pruneStopped()
    scalarCache.get((s, dir, key)) match {
      case Some(v) => v.asInstanceOf[T]
      case None => synchronized {
        scalarCache.getOrElseUpdate((s, dir, key), build).asInstanceOf[T]
      }
    }
  }

  /** Evict entries owned by stopped sessions: a service that stops
    * whole SparkContexts must not have them pinned by this map's
    * strong keys. The blocks themselves died with the context's
    * BlockManager, so dropping the reference is the whole cleanup.
    *
    * NOTE this predicate is context-level: sessions discarded via
    * `newSession()` share a live context and are NOT detected — a
    * service recycling sessions that way must call [[evict]] when it
    * retires one (automatic detection would need weak keys, and the
    * cached DataFrame values reference their session strongly, so
    * weak keys alone cannot release anything). */
  private def pruneStopped(): Unit = evictWhere(_.sparkContext.isStopped)

  /** Release one session's entries and unpersist their blocks — for
    * services that discard `newSession()` instances (invisible to
    * [[pruneStopped]], see its note). */
  def evict(s: SparkSession): Unit = {
    cache.keys.filter(_._1 eq s).foreach { k =>
      cache.remove(k).foreach(_.unpersist(blocking = false))
    }
    scalarCache.keys.filter(_._1 eq s).foreach(scalarCache.remove)
  }

  /** Eviction core, exposed for specs (a test cannot stop a second
    * session in-process — newSession() shares the one SparkContext).
    * Entries on a LIVE context unpersist their blocks on the way out
    * (mirroring [[evict]]); on a stopped context the blocks died with
    * the BlockManager, so dropping the reference is the cleanup. */
  private[graft] def evictWhere(p: SparkSession => Boolean): Unit = {
    cache.keys.foreach { k =>
      if (p(k._1)) cache.remove(k).foreach { df =>
        if (!k._1.sparkContext.isStopped) df.unpersist(blocking = false)
      }
    }
    scalarCache.keys.foreach { k => if (p(k._1)) scalarCache.remove(k) }
  }

  /** Number of live memoized frames (for leak assertions in specs). */
  def size: Int = cache.size

  /** Number of live memoized scalars (for leak assertions in specs). */
  def scalarSize: Int = scalarCache.size

  def clear(): Unit = {
    cache.values.foreach(_.unpersist(blocking = false))
    cache.clear()
    scalarCache.clear()
  }
}
