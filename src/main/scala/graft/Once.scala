package graft

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

/** Build-once cache, the one first-writer-wins rule of graft's
  * expensive builds (the substrate memo, landed artifacts, e25's prefix
  * states, b1's layouts): the first caller of a key runs `build`, later
  * and concurrent callers wait for its result, and a build that throws
  * leaves no entry (the next caller builds again) while every waiter
  * sees the raw failure.
  *
  * The map only installs a future (`putIfAbsent`), so no lock is held
  * across a build: nested builds of other keys cannot deadlock on it.
  * Every waiting thread and every running build is recorded in one
  * wait-for graph shared by all instances; a wait that would close a
  * cycle (a build that waits on itself, directly or through other
  * threads' builds, in any `Once`) throws an `IllegalStateException`
  * naming the keys instead of hanging. That failure completes the
  * builds on the cycle exceptionally, so no thread on it hangs.
  *
  * @param label names a key in the cycle error */
final class Once[K, V](label: K => String) {
  private val cells = new ConcurrentHashMap[K, CompletableFuture[V]]()

  /** The value of `key`, built by `build` if no entry holds it. `stale`
    * evicts a COMPLETED entry whose value (or whose artifacts on disk)
    * no longer serves; an in-flight build is never evicted. */
  def apply(key: K, stale: V => Boolean = (_: V) => false)(build: => V): V = {
    val cur = cells.get(key)
    if (cur != null && cur.isDone && !cur.isCompletedExceptionally && stale(cur.join()))
      cells.remove(key, cur)
    val mine = new CompletableFuture[V]()
    val prior = cells.putIfAbsent(key, mine)
    if (prior != null) Once.await(prior)
    else {
      Once.building.put(mine, (Thread.currentThread(), label(key)))
      try {
        val v = build
        Once.building.remove(mine)
        mine.complete(v)
        v
      } catch {
        case e: Throwable =>
          Once.building.remove(mine)
          cells.remove(key, mine)
          mine.completeExceptionally(e)
          throw e
      }
    }
  }

  /** Drops every entry whose key matches `p`, and hands each dropped
    * value to `release` once its build has completed (at once for a
    * built entry; never for a failed one). */
  def removeWhere(p: K => Boolean, release: V => Unit = (_: V) => ()): Unit =
    cells.keySet.forEach { k =>
      if (p(k)) Option(cells.remove(k)).foreach(f => f.thenAccept(v => release(v)): Unit)
    }
}

object Once {
  /** The wait-for graph of every instance: the thread and key label of
    * each running build, and the build each blocked thread waits on. */
  private val building = new ConcurrentHashMap[CompletableFuture[_], (Thread, String)]()
  private val waiting = new ConcurrentHashMap[Thread, CompletableFuture[_]]()

  private def await[V](f: CompletableFuture[V]): V = {
    val me = Thread.currentThread()
    waiting.put(me, f)
    try {
      if (!f.isDone) cycle(me, f).foreach { keys =>
        throw new IllegalStateException("memo wait cycle: " +
          (keys :+ keys.head).mkString(" -> ") +
          " (each key's build waits on the next one's)")
      }
      f.join()
    } catch {
      case e: CompletionException => throw Option(e.getCause).getOrElse(e)
    } finally waiting.remove(me)
  }

  /** The key labels on a wait-for path from `f`'s builder back to `me`,
    * `f`'s first, if there is one. Registering the wait before the walk
    * means that of two threads closing a cycle at once, the later one
    * sees it. */
  private def cycle(me: Thread, f: CompletableFuture[_]): Option[List[String]] = {
    @scala.annotation.tailrec
    def walk(f: CompletableFuture[_], path: List[String], seen: Set[Thread]): Option[List[String]] =
      Option(building.get(f)) match {
        case Some((t, key)) if t eq me => Some((key :: path).reverse)
        case Some((t, key)) if !seen(t) => Option(waiting.get(t)) match {
          case Some(next) => walk(next, key :: path, seen + t)
          case None => None
        }
        case _ => None
      }
    walk(f, Nil, Set.empty)
  }
}
