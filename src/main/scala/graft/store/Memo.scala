package graft.store

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A bounded process-wide memo of facts that never change once committed,
  * one instance per kind of fact, each listed in [[Memo.all]]. Entries are
  * keyed first by the store key they are invalidated under
  * ([[TableStore#memoKey]] or [[TableStore#epochMemoKey]]), then by `K`.
  * A put past `maxEntries` entries or `maxWeight` total weight evicts the
  * least recently used entries until it fits; a value heavier than
  * `maxWeight` alone, or one `admit` refuses, is not held. A put of `k`
  * also drops the entries of its store whose key `k` `supersedes`, if
  * given.
  * `release` runs exactly once for every value that leaves, for whatever
  * reason. Callers load outside the memo (get, then put), so a Spark job
  * never runs under its lock. */
private[graft] final class Memo[K, V](val name: String, maxEntries: Int,
    val maxWeight: Long = Long.MaxValue, weigh: V => Long = (_: V) => 0L,
    admit: V => Boolean = (_: V) => true,
    supersedes: Option[(K, K) => Boolean] = None,
    release: V => Unit = (_: V) => (),
    private[store] val dropOnCommit: Boolean = false) {

  private final class Entry(val value: V, val weight: Long)

  // access order: iteration runs from the least recently used entry
  private val entries =
    new java.util.LinkedHashMap[(String, K), Entry](16, 0.75f, true)
  private var held = 0L
  private var evictions = 0L

  Memo.registry.add(this)

  /** The value under (`store`, `k`), marked as used. */
  def get(store: String, k: K): Option[V] = synchronized {
    Option(entries.get((store, k))).map(_.value)
  }

  /** Hold `v` under (`store`, `k`); false when it is not held. */
  def put(store: String, k: K, v: V): Boolean = {
    val w = weigh(v)
    if (w > maxWeight || !admit(v)) return false
    val gone = ArrayBuffer.empty[V]
    synchronized {
      val old = entries.remove((store, k))
      if (old != null) { held -= old.weight; gone += old.value }
      supersedes.foreach(s =>
        removeWhere(e => e._1 == store && s(k, e._2), gone))
      val it = entries.values.iterator
      while (it.hasNext && (entries.size >= maxEntries || held + w > maxWeight)) {
        val e = it.next()
        it.remove()
        held -= e.weight
        evictions += 1
        gone += e.value
      }
      entries.put((store, k), new Entry(v, w))
      held += w
    }
    gone.foreach(release)
    true
  }

  /** The value under (`store`, `k`), else `load`, held for the next call. */
  def getOrLoad(store: String, k: K)(load: => V): V =
    get(store, k).getOrElse { val v = load; put(store, k, v); v }

  /** Drop every entry whose store key matches `pred`. */
  private def dropIf(pred: String => Boolean): Unit = {
    val gone = ArrayBuffer.empty[V]
    synchronized(removeWhere(e => pred(e._1), gone))
    gone.foreach(release)
  }

  def clear(): Unit = dropIf(_ => true)

  private def removeWhere(pred: ((String, K)) => Boolean,
      gone: ArrayBuffer[V]): Unit = {
    val it = entries.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      if (pred(e.getKey)) {
        it.remove()
        held -= e.getValue.weight
        gone += e.getValue.value
      }
    }
  }

  /** The held entries, least recently used first. */
  def snapshot: Seq[((String, K), V)] =
    synchronized(entries.asScala.toSeq.map(e => e._1 -> e._2.value))

  def size: Int = synchronized(entries.size)

  /** Total weight held. */
  def weight: Long = synchronized(held)

  /** Entries evicted to fit a put (not those replaced, superseded or
    * dropped). */
  def evicted: Long = synchronized(evictions)
}

private[graft] object Memo {

  private val registry = new java.util.concurrent.CopyOnWriteArrayList[Memo[_, _]]

  /** Every memo created in this process. */
  def all: Seq[Memo[_, _]] = registry.asScala.toSeq

  /** Drop every entry under store key `prefix`: the key itself, and keys
    * that continue it past a path, branch or epoch separator, so `…/t`
    * drops `…/t/index/x`, `…/t#b` and `…/t@e` but never `…/t2`. */
  def invalidate(prefix: String): Unit = all.foreach(_.dropIf(k =>
    k == prefix || k.startsWith(prefix + "/") || k.startsWith(prefix + "#") ||
      k.startsWith(prefix + "@")))

  /** A commit landed at `root`: the memos that follow commits drop the
    * entries of that store and of every path ancestor. */
  def committed(root: String): Unit = all.filter(_.dropOnCommit)
    .foreach(_.dropIf(k => k == root || root.startsWith(k + "/")))
}
