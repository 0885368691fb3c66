package graft.ops

import java.lang.ref.WeakReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Memoized persisted subtrees (and corpus-sizing counts) shared ACROSS
  * gate queries.
  *
  * Motivation (r2 verdict "What's wrong #2"): the near-dup keep-lists are
  * anti-joins against the near-dup PAIR queries — q37 needs q32's pairs,
  * q44 needs q41's. Computed independently, the gate paid the expensive
  * capped self-join twice per run. Here the pair result (tiny — pair ids
  * + score, a few dozen rows per corpus even at sf0.1) is persisted once
  * per (session, key) and every consumer shares it: whichever query runs
  * first pays the join, the keep-list that follows is one cheap
  * anti-join. This is also the honest 100 TB shape: a real pipeline
  * materializes the duplicate-pair table once and derives keep/drop
  * policies from it, rather than re-mining pairs per policy.
  *
  * Persistence hygiene: `spark.catalog.clearCache()` (bench pass
  * boundaries, verify isolation) unpersists the data but leaves the plan
  * valid — [[cached]] re-persists on next access, so a cleared entry
  * costs one recompute, never a correctness change.
  *
  * GC hygiene (r3 advice): a DataFrame strongly references its
  * SparkSession, so holding DataFrames as strong WeakHashMap VALUES would
  * pin the weak session KEY forever. Values are therefore held behind
  * [[WeakReference]]s: the session (and its plans) become collectable the
  * moment no caller retains them, and a collected entry just means one
  * rebuild of a driver-side plan — Spark's CacheManager matches the
  * rebuilt (canonically identical) subtree against any still-cached data,
  * so even then the persisted rows are reused, not recomputed.
  */
object SharedPlans {
  private final class Entry {
    val plans = scala.collection.mutable.Map.empty[String, WeakReference[DataFrame]]
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val bcasts = scala.collection.mutable.Map.empty[String, org.apache.spark.broadcast.Broadcast[_]]
  }
  private val bySession = new java.util.WeakHashMap[SparkSession, Entry]()

  private def entryFor(s: SparkSession): Entry = {
    val existing = bySession.get(s)
    if (existing != null) existing
    else { val fresh = new Entry; bySession.put(s, fresh); fresh }
  }

  def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    synchronized {
      val m = entryFor(s).plans
      val df = m.get(key).flatMap(r => Option(r.get())) match {
        case Some(live) => live
        case None =>
          val built = build.persist(StorageLevel.MEMORY_AND_DISK)
          m(key) = new WeakReference(built)
          built
      }
      if (df.storageLevel == StorageLevel.NONE)
        df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }

  /** Memoized scalar count per (session, key) — e.g. the corpus size that
    * "trains" LSH signature width or the exact-baseline sample stride.
    * Parquet-metadata counts are cheap but they are still one Spark job
    * per call; sizing decisions should pay it once per session+dir. */
  def cachedCount(s: SparkSession, key: String)(compute: => Long): Long =
    synchronized {
      entryFor(s).counts.getOrElseUpdate(key, compute)
    }

  /** Memoized Broadcast per (session, content key) — for driver-built
    * broadcast VARIABLES (e.g. the [[Ivf.assignCells]] centroid
    * matrix), which unlike broadcast JOINS are not tracked by Spark's
    * CacheManager. Creating a fresh broadcast per call leaked one
    * BlockManager entry per invocation across a session's lifetime (r13
    * advice: q161's per-wave routing + repeated bench passes accumulate
    * them); content-keying bounds the live set at the number of DISTINCT
    * grids a session ever builds (a handful), so nothing needs explicit
    * destroy — the session's stop() reclaims the bounded set. */
  def cachedBroadcast[T](s: SparkSession, key: String)(
      make: => org.apache.spark.broadcast.Broadcast[T]): org.apache.spark.broadcast.Broadcast[T] =
    synchronized {
      entryFor(s).bcasts.getOrElseUpdate(key, make)
        .asInstanceOf[org.apache.spark.broadcast.Broadcast[T]]
    }
}
