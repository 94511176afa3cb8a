package graft

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}

/** A concurrent once-per-key memo for the registry's fixtures (fitted
  * models, persisted indexes and tables written under a session tmp dir).
  *
  * The first caller for a key runs `body`; concurrent callers for the SAME
  * key block until that run finishes and share its value, so a fixture that
  * writes a fixed path is written by one thread only. No lock is held while
  * a body runs, so a body may call other memos (fixtures build on fixtures);
  * only a body that asks its own memo for its own key would wait on itself.
  *
  * A body that throws is not cached: the callers waiting on that run get
  * the same exception, and the next call for the key runs `body` again.
  */
final class Memo[K, V] {
  private val cells = new ConcurrentHashMap[K, CompletableFuture[V]]()

  def apply(key: K)(body: => V): V = {
    val mine = new CompletableFuture[V]()
    val prior = cells.putIfAbsent(key, mine)
    if (prior != null) {
      try prior.get()
      catch { case e: ExecutionException => throw e.getCause }
    } else {
      try {
        val v = body
        mine.complete(v)
        v
      } catch {
        case e: Throwable =>
          cells.remove(key, mine)
          mine.completeExceptionally(e)
          throw e
      }
    }
  }
}
