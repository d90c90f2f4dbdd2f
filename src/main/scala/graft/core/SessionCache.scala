package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.ReentrantLock

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

/** The one JVM-wide map of derived session results: signature and pair
  * tables, fitted quantizers, collected verdict rows — anything an
  * operator computes from a corpus and reuses across calls.
  *
  * An entry is keyed on (application, paths, op, params) and serves only
  * while it is keyed on exactly what it was derived from:
  *
  *  - [[apply]]: `sources` are the tables the fill reads (a table's
  *    store path, e.g. `<corpus>/embeddings.parquet`, or the corpus
  *    directory itself for a fill that reads across its tables). The
  *    entry records each source's `DerivedLayout.identity` (its file
  *    manifest's hash) when it is filled and is served only while every
  *    source still has that identity, so a table rewritten, regenerated
  *    or appended to in place refills the entries derived from it and
  *    leaves the corpus's other entries alone.
  *  - [[pinned]]: `path` names a store location whose every mutation
  *    calls [[invalidate]] (an index generation). It takes no identity
  *    stat, so a serving request lists nothing.
  *
  * A fill runs under its entry's own lock, never inside the map's
  * update, so fills nest (one cached result computed from another) and
  * concurrent callers of one entry fill it once. A stale or invalidated
  * entry's [[release]] unpersists every Dataset its value holds.
  *
  * [[invalidate]] drops every entry keyed on a path at or under the
  * given one, either as one of the entry's paths or as a String param:
  * an entry derived from an index passes the index directory as a
  * param, so a mutation of that index (delete, compact, rebuild) drops
  * it while the corpus's other entries stay. [[clearAll]] drops
  * everything.
  */
object SessionCache {

  private final case class Key(app: String, paths: List[String], op: String, params: List[Any]) {
    def under(p: String): Boolean = {
      def at(s: String) = s == p || s.startsWith(p + "/")
      paths.exists(at) || params.exists { case s: String => at(s); case _ => false }
    }
  }

  /** One entry. `value` and `id` are written only under `lock`;
    * `invalid` is set by an invalidation that found the entry mid-fill
    * on another thread, so the next access refills it. */
  private final class Slot {
    val lock = new ReentrantLock()
    var value: Option[Any] = None
    var id: String = ""
    @volatile var invalid = false
  }

  private val slots = new ConcurrentHashMap[Key, Slot]()

  /** Hits, misses and fill time per op. */
  final case class OpStats(op: String, hits: Long, misses: Long, fillMs: Double)

  private final class Counters {
    val hits, misses, fillNanos = new AtomicLong
  }

  private val counters = new ConcurrentHashMap[String, Counters]()

  /** The result of `op` with `params`, derived from the tables
    * `sources`, computed by `fill` unless an entry filled while every
    * source had its current identity is held. */
  def apply[V](spark: SparkSession, sources: Seq[String], op: String, params: Any*)(fill: => V): V =
    lookup(spark, sources.toList, op, params, identity(sources))(fill)

  /** The result of `op` with `params` over the store location `path`,
    * computed by `fill` unless held; freshness is [[invalidate]]'s job. */
  def pinned[V](spark: SparkSession, path: String, op: String, params: Any*)(fill: => V): V =
    lookup(spark, List(path), op, params, "")(fill)

  /** The held result of `op` over `sources`, if one is fresh; never
    * fills, and never waits for a fill in progress. */
  def peek[V](spark: SparkSession, sources: Seq[String], op: String, params: Any*): Option[V] = {
    val id = identity(sources)
    Option(slots.get(Key(spark.sparkContext.applicationId, sources.toList, op, params.toList)))
      .filter(_.lock.tryLock()).flatMap { s =>
        try if (!s.invalid && s.id == id) s.value.map(_.asInstanceOf[V]) else None
        finally s.lock.unlock()
      }
  }

  private def identity(sources: Seq[String]): String =
    sources.map(graft.sources.DerivedLayout.identity).mkString(",")

  private def lookup[V](spark: SparkSession, paths: List[String], op: String, params: Seq[Any],
      id: String)(fill: => V): V = {
    val key = Key(spark.sparkContext.applicationId, paths, op, params.toList)
    val c = counters.computeIfAbsent(op, _ => new Counters)
    val slot = lockedSlot(key)
    try slot.value match {
      case Some(v) if !slot.invalid && slot.id == id =>
        c.hits.incrementAndGet()
        v.asInstanceOf[V]
      case old =>
        old.foreach(release)
        slot.value = None
        slot.invalid = false
        val t0 = System.nanoTime()
        val v = fill
        slot.value = Some(v)
        slot.id = id
        c.misses.incrementAndGet()
        c.fillNanos.addAndGet(System.nanoTime() - t0)
        v
    } finally slot.lock.unlock()
  }

  /** The key's slot, locked; retries when an invalidation removed the
    * slot between the lookup and the lock. */
  @scala.annotation.tailrec
  private def lockedSlot(key: Key): Slot = {
    val s = slots.computeIfAbsent(key, _ => new Slot)
    s.lock.lock()
    if (slots.get(key) eq s) s
    else { s.lock.unlock(); lockedSlot(key) }
  }

  /** Drops every entry keyed on `path` or a path under it. An entry
    * being filled by the calling thread stays (a fill that mutates what
    * it reads, like `Similarity.indexLifecycleGates`, keeps its own
    * result); one being filled by another thread is marked and refills
    * on its next access. */
  def invalidate(path: String): Unit = drop(_.under(path))

  /** Drops every entry, releasing what each holds. */
  def clearAll(): Unit = drop(_ => true)

  private def drop(hit: Key => Boolean): Unit =
    slots.asScala.foreach { case (key, s) =>
      if (hit(key) && !s.lock.isHeldByCurrentThread) {
        if (s.lock.tryLock()) {
          try {
            slots.remove(key, s)
            s.value.foreach(release)
            s.value = None
          } finally s.lock.unlock()
        } else s.invalid = true
      }
    }

  /** Unpersists every Dataset in `v`, including those inside options,
    * tuples, case classes and collections. A Dataset of a stopped
    * application holds nothing left to release. */
  private def release(v: Any): Unit = v match {
    case d: Dataset[_] => if (!d.sparkSession.sparkContext.isStopped) d.unpersist()
    case it: Iterable[_] => it.foreach(release)
    case p: Product => p.productIterator.foreach(release)
    case _ =>
  }

  /** Hits, misses and fill time per op since the JVM started, by op. */
  def stats: Seq[OpStats] =
    counters.asScala.toSeq.map { case (op, c) =>
      OpStats(op, c.hits.get, c.misses.get, c.fillNanos.get / 1e6)
    }.sortBy(_.op)

  /** The held values of `op`, for tests that inspect a cache's size. */
  private[graft] def held(op: String): Seq[Any] =
    slots.asScala.toSeq.collect { case (k, s) if k.op == op => s.value }.flatten
}
