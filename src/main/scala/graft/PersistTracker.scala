package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** The one owner of per-session engine state: every module's memoized
  * builds ([[memo]]) and persisted relations ([[tracked]]) live here,
  * namespaced per (module, session), and [[release]] drops a
  * namespace's memo entries and persists together. [[releaseAll]] is the
  * one teardown call — it covers every module that ever registered, so a
  * new module cannot be left out of Bench's between-query isolation,
  * Verify's or a test suite's teardown.
  *
  * Persists: a relation is persisted MEMORY_AND_DISK and remembered as
  * ONE entry per distinct canonicalized plan — Spark's CacheManager
  * dedupes equivalent plans, but without the plan-keyed dedupe here,
  * repeated invocations in a long-lived session (Bench min-of-3, full
  * Verify sweeps) would grow the tracking list without bound and pin
  * plan objects. Modules keep their own namespace so one module's
  * release cannot drop another's live relations.
  */
private[graft] object PersistTracker {

  // one entry per distinct canonicalized plan per namespace, REFCOUNTED
  // (round-17 advisory): a drop() racing a concurrent tracked() of the
  // identical plan (q240's audit relation vs buildAuto's — same
  // canonical plan, registered from different threads in Verify's
  // parallel phase) used to dedupe the later tracked() against the
  // entry drop() was about to remove, leaving the surviving consumer's
  // relation silently uncached AND untracked. With a per-plan refcount
  // held under the same lock, the late tracked() bumps the count and
  // drop() only unpersists at zero.
  private final class Entry(val df: DataFrame) { var refs: Int = 1 }

  /** One memoized value. Its monitor serializes the build of its key
    * only — unrelated keys build concurrently, and a build may memoize
    * other keys (provenance → gram set / near-dup labels) without
    * deadlock. `value` and `dead` are guarded by `spaces`. */
  private final class Memo { var value: Option[Any] = None; var dead = false }

  private final class Space {
    val persists = mutable.LinkedHashMap
      .empty[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Entry]
    val memos = mutable.Map.empty[String, Memo]
  }

  // (module, sessionKey) → namespace; every field of every Space (and of
  // its Memos) is read and written under this lock
  private val spaces = mutable.Map.empty[(String, String), Space]
  private val modules = mutable.LinkedHashSet.empty[String]
  private val hooks = mutable.Map.empty[String, () => Unit]

  private def space(module: String, s: SparkSession): Space =
    spaces.synchronized {
      modules += module
      spaces.getOrElseUpdate((module, Tables.sessionKey(s)), new Space)
    }

  /** The value `build` produces for (`module`, session, `key`), built
    * at most once per session: concurrent first calls on one key run
    * `build` once (the losers wait and share the winner's value), and a
    * build that throws caches nothing. [[release]] destroys memoized
    * broadcasts, unpersists memoized DataFrames, and forgets everything
    * else. */
  def memo[V](module: String, s: SparkSession, key: String)(build: => V): V =
    memoValid(module, s, key, (_: V) => true)(build)

  /** [[memo]] whose cached value must still pass `valid` to be reused.
    * A value failing it is stale: the whole namespace is released (its
    * persists are as stale as the value — a bare re-persist of the same
    * plan would no-op against the dead CacheManager entry) and `build`
    * runs again. */
  def memoValid[V](module: String, s: SparkSession, key: String,
      valid: V => Boolean)(build: => V): V = {
    val m = spaces.synchronized {
      space(module, s).memos.getOrElseUpdate(key, new Memo)
    }
    m.synchronized {
      val (dead, cached) = spaces.synchronized((m.dead, m.value))
      if (dead) memoValid(module, s, key, valid)(build) // released meanwhile
      else cached match {
        case Some(v) if valid(v.asInstanceOf[V]) => v.asInstanceOf[V]
        case Some(_) =>
          release(module, s)
          memoValid(module, s, key, valid)(build)
        case None =>
          val v = build
          spaces.synchronized { if (!m.dead) m.value = Some(v) }
          v
      }
    }
  }

  /** This session's memoized values by (module, key) and its tracked
    * relations — the state a [[releaseAll]] must leave empty. */
  private[graft] def sessionState(s: SparkSession)
      : (Map[(String, String), Any], Seq[DataFrame]) = {
    val sid = Tables.sessionKey(s)
    spaces.synchronized {
      val mine = spaces.toSeq.collect { case ((module, `sid`), sp) => module -> sp }
      (mine.flatMap { case (module, sp) =>
        sp.memos.flatMap { case (k, m) => m.value.map((module, k) -> _) }
      }.toMap, mine.flatMap(_._2.persists.values.map(_.df)))
    }
  }

  /** Run `hook` on every [[release]] of `module` (one hook per module) —
    * for module state that is not session-keyed (Similarity's path-keyed corpus counts) but
    * must still be invalidated by teardown. Registers the module with
    * [[releaseAll]]. */
  def onRelease(module: String)(hook: => Unit): Unit =
    spaces.synchronized {
      modules += module
      hooks(module) = () => hook
    }

  def tracked(module: String, df: DataFrame): DataFrame =
    trackedOwned(module, df)._1

  /** Like [[tracked]], but also reports whether THIS call created the
    * plan's FIRST live registration. `false` means an equivalent plan
    * is already tracked — an outer caller persisted it first and still
    * owns its lifetime (q240 registers the exact-audit relation around
    * its own aggregates; buildAuto's identical audit must not drop it
    * out from under them). Either way this call holds one reference;
    * a caller that got `true` may [[drop]] when done. */
  def trackedOwned(module: String, df: DataFrame): (DataFrame, Boolean) = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val canon = org.apache.spark.sql.graftbridge.GraftBridge
      .logicalPlan(p).canonicalized
    val owned = spaces.synchronized {
      val entries = space(module, df.sparkSession).persists
      entries.get(canon) match {
        case Some(e) => e.refs += 1; false
        case None => entries(canon) = new Entry(p); true
      }
    }
    (p, owned)
  }

  /** Drop `module`'s memo entries and unpersist its tracked relations
    * for this session unconditionally (test/app teardown, or between
    * corpus versions). Only call once no outstanding DataFrame or
    * broadcast handed out by the namespace is still in use. A build
    * in flight when its entry is released returns its value uncached. */
  def release(module: String, s: SparkSession): Unit = {
    val gone = spaces.synchronized {
      val sp = spaces.remove((module, Tables.sessionKey(s)))
      sp.foreach(_.memos.values.foreach(_.dead = true))
      sp
    }
    gone.foreach { sp =>
      sp.memos.values.flatMap(_.value).foreach {
        case b: org.apache.spark.broadcast.Broadcast[_] => b.destroy()
        case df: org.apache.spark.sql.Dataset[_] => df.unpersist()
        case _ => ()
      }
      sp.persists.values.foreach(_.df.unpersist())
    }
    spaces.synchronized(hooks.get(module)).foreach(_())
  }

  /** [[release]] every module that has ever memoized, tracked or
    * registered a release hook — the one teardown call. */
  def releaseAll(s: SparkSession): Unit =
    spaces.synchronized(modules.toList).foreach(release(_, s))

  /** Release ONE reference to a tracked relation (it is no longer
    * needed by this caller — e.g. a build stage superseded by a later
    * stage). The relation unpersists and its plan is forgotten only
    * when the LAST reference drops — a concurrent consumer that
    * [[tracked]] the same plan keeps it alive (round-17 advisory). A
    * fully dropped plan re-persists and re-registers cleanly on a
    * later re-track. Dropping an untracked relation just unpersists it
    * (idempotent, harmless). */
  def drop(module: String, df: DataFrame): Unit = {
    val canon = org.apache.spark.sql.graftbridge.GraftBridge
      .logicalPlan(df).canonicalized
    val key = (module, Tables.sessionKey(df.sparkSession))
    val unpersistNow = spaces.synchronized {
      spaces.get(key).flatMap(sp => sp.persists.get(canon).map(sp -> _)) match {
        case None => true
        case Some((sp, e)) =>
          e.refs -= 1
          if (e.refs <= 0) { sp.persists.remove(canon); true } else false
      }
    }
    if (unpersistNow) df.unpersist()
    ()
  }

  /** Persist-state dump of `module`'s tracked relations (round-16
    * verdict task #1 forensics): one entry per tracked DataFrame with
    * its cached RDD id, current storage level, and live block count —
    * the signature of the stripped-blocks-but-live-handle state is
    * `level=None cached_parts=0/N` on a relation a consumer is about to
    * reuse. JSON-array string, safe to embed in bench artifacts. */
  def forensic(module: String, s: SparkSession): String = {
    val dfs = spaces.synchronized {
      spaces.get((module, Tables.sessionKey(s)))
        .map(_.persists.values.map(_.df).toList).getOrElse(Nil)
    }
    dfs.map { df =>
      "\"" + org.apache.spark.sql.graftbridge.GraftBridge.cacheForensic(df) + "\""
    }.mkString("[", ",", "]")
  }
}
