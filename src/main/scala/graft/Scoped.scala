package graft

import java.util.concurrent.{Callable, CancellationException, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
  *   - no pinned block outlives the scope that made it, also when the
  *     scope fails. A runner opens one [[query]] scope per query or
  *     tool, and library code pins into it through [[current]].
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

  /** A pinned frame: read it through `df`, free its blocks with
    * `release()` once nothing reads them any more (a local checkpoint
    * cannot be recomputed). `release()` is idempotent. */
  final class Materialized private[Scoped] (val df: DataFrame,
                                            checkpointed: Boolean) {
    private val released = new AtomicBoolean(false)

    def release(): Unit = if (released.compareAndSet(false, true))
      df.queryExecution.logical match {
        // checkpoint storage is not in the cache manager, so
        // Dataset.unpersist cannot reach it: free the LogicalRDD's own
        // RDD (Dataset.rdd would be a fresh deserializer over it)
        case lr: LogicalRDD if checkpointed => lr.rdd.unpersist(false)
        case _ => df.unpersist(false)
      }
  }

  /** Pins frames and releases them together when it closes: the scope
    * of one [[Materialize.scoped]] block or one [[query]]. Pinning is
    * safe from [[overlap]] tasks; pinning into a closed scope throws. */
  final class Scope private[Scoped] (keeps: Boolean) {
    private val held = ArrayBuffer.empty[Materialized]
    private var closed = false

    /** Materialize `df` eagerly ([[Materialize]]'s policy) and pin it. */
    def apply(df: DataFrame): DataFrame = own(Materialize(df)).df

    /** Pin `ds` as a lazy MEMORY_AND_DISK persist: its first action
      * fills the blocks, later actions read them. */
    def persist[T](ds: Dataset[T]): Dataset[T] = {
      own(new Materialized(ds.persist(StorageLevel.MEMORY_AND_DISK).toDF(), false))
      ds
    }

    /** Pin a handle made elsewhere (a loop's last round, whose earlier
      * rounds it released itself). */
    private[graft] def own(m: Materialized): Materialized = synchronized {
      if (closed) { m.release(); throw new IllegalStateException("pinned into a closed scope") }
      if (keeps) held += m
      m
    }

    /** The frames pinned so far, oldest first. */
    private[graft] def pinned: Seq[DataFrame] = synchronized(held.map(_.df).toSeq)

    private[Scoped] def close(): Unit = synchronized {
      closed = true
      held.reverseIterator.foreach(_.release())
      held.clear()
    }
  }

  private val ambient = new InheritableThreadLocal[Scope]
  private val unowned = new Scope(keeps = false)

  /** The innermost open [[query]] scope of this thread, inherited by
    * threads it creates (so [[overlap]] tasks pin into their caller's
    * query). Outside any query, a scope that pins but keeps no handle:
    * the ContextCleaner frees local-checkpoint blocks once the frame is
    * unreachable, and a persisted frame stays cached until `clearCache`. */
  def current: Scope = Option(ambient.get).getOrElse(unowned)

  /** Run one query or tool: every frame pinned through [[current]]
    * while `body` builds and runs is released when it exits, on
    * failure too, and the body's exception comes out as thrown. The
    * body must not return a lazy plan over a pinned frame. Scopes
    * nest; the innermost one owns the pins. */
  def query[T](body: => T): T = {
    val s = new Scope(keeps = true)
    val outer = ambient.get
    ambient.set(s)
    try body finally { ambient.set(outer); s.close() }
  }

  /** Cached partitions held in the session's block managers: blocks
    * that a released scope left behind show up here. */
  def cachedPartitions(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

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
        new Materialized(df.localCheckpoint(true), true)
      else {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        try p.count() catch { case e: Throwable => p.unpersist(false); throw e }
        new Materialized(p, false)
      }

    /** Run `body` with a [[Scope]]; every frame it pinned through
      * `s(df)` or `s.persist(df)` is released when the block exits, on
      * failure too. The body must not return a lazy plan over a pinned
      * frame. */
    def scoped[T](body: Scope => T): T = {
      val s = new Scope(keeps = true)
      try body(s) finally s.close()
    }
  }
}
