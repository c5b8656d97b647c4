package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Tracked `localCheckpoint` plumbing shared by the iterative operators
  * ([[ConnectedComponents]], [[PageRank]]): localCheckpoint registers
  * persisted RDDs that `Dataset.unpersist` cannot release, so each
  * round's exact checkpoint RDD is held (via the bridge — never a
  * global-registry diff, which would race with concurrent jobs'
  * checkpoints) and superseded rounds are freed explicitly — otherwise
  * O(rounds) full working-set copies stay pinned in block storage until
  * session end. On a real cluster swap `localCheckpoint` for
  * `checkpoint` + a reliable checkpoint dir; the tracking is then
  * unnecessary (checkpoint files are reaped by the cleaner).
  */
private[graft] object Checkpoints {

  type CkRdd = Option[RDD[_]]

  /** Checkpoint `df`, returning the frame plus the handle needed to
    * release its blocks once a successor round supersedes it. Lazy by
    * default; `eager` materializes the blocks now, in one job over
    * the checkpoint RDD (a `count()` on the returned frame would plan
    * an aggregation and cost two). */
  def tracked(df: DataFrame, eager: Boolean = false): (DataFrame, CkRdd) = {
    val ck = df.localCheckpoint(eager)
    (ck, org.apache.spark.sql.graftbridge.Bridge.checkpointedRdd(ck))
  }

  def release(r: CkRdd): Unit = r.foreach(_.unpersist(blocking = false))
}
