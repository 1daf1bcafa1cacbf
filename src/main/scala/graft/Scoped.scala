package graft

import java.util.concurrent.{Callable, CancellationException, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The engine's one way to overlap independent driver-side jobs and its
  * one way to materialize a frame and free its blocks. Every operator
  * that used to hand-roll a thread pool or a checkpoint-and-release
  * idiom goes through here, so the failure-path rules hold everywhere
  * by construction:
  *
  *   - an overlapped task's caller sees the task's own exception, never
  *     an `ExecutionException` wrapper;
  *   - no overlapped task outlives the call, and none starts after a
  *     sibling has failed;
  *   - no materialized block outlives the scope that made it, also when
  *     the scope fails.
  */
object Scoped {

  /** Run independent tasks concurrently (guide §2.6: independent jobs
    * back-fill each other's task tails) and return their results in
    * input order. At most four run at once; a single task runs inline
    * on the caller's thread. Each call makes its own short-lived pool:
    * pool threads inherit the caller's Spark local properties when they
    * are created, so a long-lived shared pool would carry stale ones.
    *
    * On failure, tasks not yet started never start, running ones are
    * awaited, and the first failure in input order is rethrown as the
    * task threw it, with later failures attached as suppressed. */
  def overlap[T](tasks: Seq[() => T]): Seq[T] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      val failed = new AtomicBoolean(false)
      val skipped = new CancellationException("an overlapped sibling failed")
      val pool = Executors.newFixedThreadPool(math.min(tasks.size, 4))
      val outcomes = try {
        tasks.map { t =>
          pool.submit(new Callable[T] {
            def call(): T = {
              if (failed.get()) throw skipped
              try t() catch { case e: Throwable => failed.set(true); throw e }
            }
          })
        }.map { f =>
          try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
        }
      } finally {
        failed.set(true) // an interrupted caller leaves no queued task to start
        pool.shutdown()
      }
      outcomes.collect { case Left(e) if e ne skipped => e } match {
        case first +: later =>
          later.filter(_ ne first).foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case Right(v) => v }
      }
    }

  /** An eagerly materialized frame: read it through `df`, free its
    * blocks with `release()` once nothing reads them any more (a
    * local checkpoint cannot be recomputed). `release()` is idempotent. */
  final class Materialized private[Scoped] (val df: DataFrame) {
    private val released = new AtomicBoolean(false)

    def release(): Unit = if (released.compareAndSet(false, true))
      df.queryExecution.logical match {
        // checkpoint storage is not in the cache manager, so
        // Dataset.unpersist cannot reach it: free the LogicalRDD's own
        // RDD (Dataset.rdd would be a fresh deserializer over it)
        case lr: LogicalRDD => lr.rdd.unpersist(false)
        case _ => df.unpersist(false)
      }
  }

  /** Pins frames for the length of one [[Materialize.scoped]] block. */
  final class Scope private[Scoped] {
    private val held = ArrayBuffer.empty[Materialized]

    /** Materialize `df` and register it for release at scope exit.
      * Safe to call from [[overlap]] tasks. */
    def apply(df: DataFrame): DataFrame = {
      val m = Materialize(df)
      synchronized { held += m }
      m.df
    }

    private[Scoped] def releaseAll(): Unit =
      synchronized { held.foreach(_.release()) }
  }

  object Materialize {

    /** Materialize `df` eagerly. A local master takes
      * `localCheckpoint(eager)`: a flat LogicalRDD plan, so frames read
      * many times re-analyze O(1) trees, not their lineage (the r10/r19
      * plan-time lesson). A real cluster's local-checkpoint blocks have
      * no lineage, so one lost executor would fail the job instead of
      * recomputing (r19 verdict #4): any other master takes an eager
      * MEMORY_AND_DISK persist. A failure inside the materializing job
      * leaves its partial local-checkpoint blocks to the ContextCleaner. */
    def apply(df: DataFrame): Materialized =
      if (df.sparkSession.sparkContext.isLocal)
        new Materialized(df.localCheckpoint(true))
      else {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        try p.count() catch { case e: Throwable => p.unpersist(false); throw e }
        new Materialized(p)
      }

    /** Run `body` with a [[Scope]]; every frame it pinned through
      * `s(df)` is released when the block exits, on failure too. The
      * body must not return a lazy plan over a pinned frame. */
    def scoped[T](body: Scope => T): T = {
      val s = new Scope
      try body(s) finally s.releaseAll()
    }
  }
}
