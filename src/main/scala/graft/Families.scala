package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors, ThreadFactory}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

/** Fork-join for independent store families — the dedup, text, substr
  * and vector stores a root holds, which share no directory and no
  * mutable engine state ([[CacheLife]] keeps its maps in `TrieMap`s;
  * [[graft.sources.IdAuthority]] holds one lease per store root).
  * [[StreamDrain]] and [[StoreMaintain]] run their per-family steps
  * through [[all]], so the driver submits the families' small jobs side
  * by side instead of one after another.
  *
  * Thread-safety rule for a task: it writes only under its own family's
  * root and sets no session conf (a sibling would read it mid-flight).
  * Callers resolve shared session state before they fork. One sharing
  * is left to Spark: its CacheManager is keyed by plan, so families
  * that persist the same plan at once (the base id set the three
  * document families record through [[graft.sources.IdAuthority]])
  * share one cache entry. The data is identical by construction; the
  * first `unpersist` drops the entry and a sibling still reading it
  * recomputes the missing partitions from lineage.
  */
object Families {

  /** Name prefix of the worker threads (a spec checks none outlive [[all]]). */
  val ThreadPrefix = "graft-family-"

  /** Run every task on its own driver thread; return the results in
    * task order.
    *
    * The pool is created per call, and its threads are created from the
    * calling thread, so each worker inherits the caller's Spark local
    * properties (job group, job description, scheduler pool) and active
    * session. Every task is awaited even after one fails; only then is
    * the first failure in task order rethrown, any later ones attached
    * to it as suppressed. No worker thread is alive when this returns.
    */
  def all[A](tasks: Seq[() => A]): Seq[A] = {
    val threads = new ConcurrentLinkedQueue[Thread]
    val factory: ThreadFactory = (r: Runnable) => {
      val t = new Thread(r, ThreadPrefix + threads.size)
      t.setDaemon(true)
      threads.add(t)
      t
    }
    val pool = Executors.newFixedThreadPool(tasks.size max 1, factory)
    val outcomes =
      try {
        val futures = tasks.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
        futures.map(f => Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) })
      } finally {
        pool.shutdownNow()
        threads.asScala.foreach(_.join())
      }
    val failures = outcomes.collect { case Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    outcomes.map(_.get)
  }
}
