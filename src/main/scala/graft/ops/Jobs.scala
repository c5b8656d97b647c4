package graft.ops

import org.apache.spark.sql.DataFrame

/** Job attribution shared by [[graft.queries.KMeansLloyd]]'s fits,
  * [[graft.queries.Similarity]]'s width checks and the micro-batch
  * phases of [[graft.streaming.Streams.ingestStreamAppend]]. */
private[graft] object Jobs {

  /** Run `body` with its jobs described as `what` (the Spark UI and
    * event-log job description; listeners read it from the job
    * properties, which AQE's stage threads inherit), then restore the
    * caller's description. */
  def described[A](df: DataFrame, what: String)(body: => A): A = {
    val sc = df.sparkSession.sparkContext
    val key = "spark.job.description"
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, what)
    try body finally sc.setLocalProperty(key, prev)
  }
}
