package graft

import org.apache.spark.sql.functions._

object ReleaseSpec {
  /** Static so a UDF running inside a task sees the same latches as
    * the test thread (a closure would ship a deserialized copy). */
  val countStarted = new java.util.concurrent.CountDownLatch(1)
  val countRelease = new java.util.concurrent.CountDownLatch(1)
}

/** The session-hygiene contract behind the bench's per-query isolation
  * (the r4 lesson: blocks that outlive their query slowed 7 unrelated
  * queries >2x): [[graft.ops.Release.sweep]] must verifiably return the
  * session to zero pinned storage, across every pinning path the
  * library has — PlanCache memos and iterative-operator checkpoints. */
class ReleaseSpec extends SparkSpec {

  test("sweep drains PlanCache memos and reports empty storage") {
    val pc = new graft.ops.PlanCache(capacity = 2)
    val memo = pc.memo(spark.range(1000).toDF("id"))
    memo.count() // materialize the persist
    val (nBefore, memBefore, _) = graft.ops.Release.held(spark)
    assert(nBefore >= 1 && memBefore > 0, "memo should pin storage")
    graft.ops.Release.sweep(spark)
    val (n, mem, disk) = graft.ops.Release.held(spark)
    assert(n == 0 && mem == 0L && disk == 0L,
      s"storage not drained: $n rdds, $mem mem, $disk disk")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("a memo re-requested after sweep re-persists instead of serving dead blocks") {
    val pc = new graft.ops.PlanCache(capacity = 2)
    val plan = spark.range(500).toDF("id").withColumn("x", col("id") * 2)
    assert(pc.memo(plan).count() == 500L)
    graft.ops.Release.sweep(spark)
    // same canonical plan, post-sweep: must rebuild, not hit freed blocks
    assert(pc.memo(plan).count() == 500L)
    graft.ops.Release.sweep(spark)
  }

  test("an eager memo's count does not hold the cache lock against another plan") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val pc = new graft.ops.PlanCache(capacity = 4)
    val hold = udf { (x: Long) =>
      ReleaseSpec.countStarted.countDown()
      ReleaseSpec.countRelease.await(60, java.util.concurrent.TimeUnit.SECONDS)
      x
    }.asNondeterministic()
    // thread 1 sits inside memo's materializing count until released
    val slow = Future(pc.memo(spark.range(1).select(hold(col("id")).as("id")), eager = true))
    try {
      assert(ReleaseSpec.countStarted.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the held count never started")
      // thread 2 memoizes an unrelated plan meanwhile
      val other = Future(pc.memo(spark.range(10).toDF("id"), eager = true))
      assert(Await.result(other, 30.seconds).count() == 10L)
      assert(!slow.isCompleted, "the held count finished before its release")
    } finally ReleaseSpec.countRelease.countDown()
    assert(Await.result(slow, 60.seconds).count() == 1L)
    graft.ops.Release.sweep(spark)
  }

  test("sweep releases an iterative operator's result-backing checkpoint") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val pr = graft.ops.PageRank.pageRank(edges, iterations = 2)
    assert(pr.count() == 3L) // consume the result first
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "final checkpoint should still be pinned while the frame is live")
    graft.ops.Release.sweep(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
