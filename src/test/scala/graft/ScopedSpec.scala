package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.Scoped.{Materialize, overlap}

/** The overlap helper, the scoped materialize handle and the query
  * scope: results in input order, the original exception on failure,
  * no task started after a sibling failed, and no cached partition
  * left behind by a scope — also one that failed. */
class ScopedSpec extends SparkSpec {

  test("overlap returns results in input order, whatever order tasks finish in") {
    val out = overlap((0 until 6).map(i => () => {
      Thread.sleep((6 - i) * 20L)
      i
    }))
    assert(out == (0 until 6))
    assert(overlap(Seq(() => "inline")) == Seq("inline"))
    assert(overlap(Seq.empty[() => Int]).isEmpty)
  }

  test("fault injection: a failing overlapped task inside a scope leaks no blocks") {
    val before = Scoped.cachedPartitions(spark)
    val pinned = new CountDownLatch(2)
    var during = -1L
    val e = intercept[IllegalStateException] {
      Materialize.scoped { s =>
        overlap(Seq(
          () => { val n = s(spark.range(0, 1000, 1, 4).toDF()).count(); pinned.countDown(); n },
          () => { val n = s(spark.range(0, 500, 1, 4).toDF()).count(); pinned.countDown(); n },
          () => {
            assert(pinned.await(60, TimeUnit.SECONDS), "pinning tasks never finished")
            during = Scoped.cachedPartitions(spark)
            throw new IllegalStateException("injected")
          }))
      }
    }
    assert(e.getMessage == "injected")
    assert(during > before, s"the pinned frames held no blocks ($before -> $during)")
    val after = Scoped.cachedPartitions(spark)
    assert(after <= before, s"cached partitions grew: $before -> $after")
  }

  test("fault injection: a query that throws after pinning leaks no blocks") {
    import spark.implicits._
    val before = Scoped.cachedPartitions(spark)
    var during = -1L
    val e = intercept[IllegalStateException] {
      Scoped.query {
        val docs = Tables.materialize(spark.range(0, 1000, 1, 4).toDF("id"))
        val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
          .toDF("src", "dst", "w")
        // the Graph persists run on an overlap thread: it inherits the
        // caller's query scope, so they pin into it too
        overlap(Seq(
          () => graft.operators.Graph.pageRank(edges,
            Seq(1L, 2L, 3L).toDF("node")).collect().length.toLong,
          () => docs.count()))
        during = Scoped.cachedPartitions(spark)
        throw new IllegalStateException("injected")
      }
    }
    assert(e.getMessage == "injected")
    assert(during > before, s"the pinned frames held no blocks ($before -> $during)")
    val after = Scoped.cachedPartitions(spark)
    assert(after <= before, s"cached partitions grew: $before -> $after")
  }

  test("pinning into a closed scope throws and pins nothing") {
    val df = spark.range(0, 10, 1, 2).toDF("id")
    val before = Scoped.cachedPartitions(spark)
    val closedQuery = Scoped.query(Scoped.current)
    val closedLocal = Materialize.scoped(identity)
    intercept[IllegalStateException](closedQuery.persist(df))
    intercept[IllegalStateException](closedLocal(df))
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "a refused pin left the frame in the cache manager")
    assert(Scoped.cachedPartitions(spark) <= before)
    // outside a query the ambient scope is the unowned one again
    assert(!(Scoped.current eq closedQuery))
  }

  test("overlap: no queued task starts after a failure; later failures ride as suppressed") {
    val started = new AtomicBoolean(false)
    // width 4: tasks 0-3 start, task 4 queues behind them. Task 0 fails
    // at once; its thread is the first one free, so task 4 would run on
    // it next if the failure did not stop it.
    intercept[IllegalArgumentException] {
      overlap(Seq[() => Int](
        () => throw new IllegalArgumentException("first"),
        () => { Thread.sleep(300); 1 },
        () => { Thread.sleep(300); 2 },
        () => { Thread.sleep(300); 3 },
        () => { started.set(true); 4 }))
    }
    assert(!started.get(), "a task queued behind the failure started")
    // the first failure in INPUT order wins, even when it fails last
    val e = intercept[IllegalStateException] {
      overlap(Seq[() => Int](
        () => { Thread.sleep(200); throw new IllegalStateException("slow") },
        () => throw new UnsupportedOperationException("fast")))
    }
    assert(e.getMessage == "slow")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("fast"))
  }

  test("a materialized handle releases once; a second release is a no-op") {
    val before = Scoped.cachedPartitions(spark)
    val m = Materialize(spark.range(0, 100, 1, 2).toDF())
    assert(m.df.count() == 100)
    assert(Scoped.cachedPartitions(spark) > before)
    m.release()
    m.release()
    assert(Scoped.cachedPartitions(spark) <= before)
  }

  test("distributed BPE frees its rounds and the base cache when the corpus runs out") {
    import spark.implicits._
    import graft.operators.Bpe
    val before = Scoped.cachedPartitions(spark)
    // "ab" learns (a,b) then (ab,</w>); the third merge finds no pair
    val e1 = intercept[IllegalArgumentException](
      Bpe.train(Seq("ab").toDF("text"), "text", numMerges = 3,
        localVocabBytes = 0L))
    assert(e1.getMessage.contains("corpus exhausted after 2 merges"))
    // an empty corpus fails in round 1, while the base cache is live
    val e2 = intercept[IllegalArgumentException](
      Bpe.train(Seq.empty[String].toDF("text"), "text", numMerges = 1,
        localVocabBytes = -1L))
    assert(e2.getMessage.contains("corpus exhausted after 0 merges"))
    val after = Scoped.cachedPartitions(spark)
    assert(after <= before, s"cached partitions grew: $before -> $after")
  }

  test("only Scoped.scala makes thread pools or local checkpoints") {
    val banned = Seq("Executors.new", ".localCheckpoint(", "LogicalRDD =>", ".cache()")
    // a Dataset/RDD persist takes a storage level or nothing; a scope's
    // persist takes the frame, so it does not match
    val rawPersist = """\.persist\(\s*(\)|[\w.]*(StorageLevel|MEMORY|DISK|OFF_HEAP))""".r
    // files that keep a persist/unpersist pair freeing blocks early:
    //   - DetAgg.fit, the one training loop of the six gradient
    //     families: its RDD-level `.rdd.persist(` of the training set
    //     (try … finally unpersist). The model files themselves are not
    //     listed, so a family that persists on its own fails here;
    //   - StreamQueries' feed prep: fileFeedDrain's slice, st4's docs,
    //     st7's static profile (try … finally unpersist) and st6's
    //     slice (unpersisted after the phase-2 chunk lands).
    val keepsPairs = Set("DetAgg.scala", "StreamQueries.scala")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    val hits = for {
      f <- files(root) if f.getName != "Scoped.scala"
      (line, n) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      b <- banned.filter(line.contains) ++
        rawPersist.findFirstIn(line).filterNot(_ => keepsPairs(f.getName))
    } yield s"${f.getPath}:${n + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
