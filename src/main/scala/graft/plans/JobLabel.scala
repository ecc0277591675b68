package graft.plans

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs an operator starts `graft <op> <phase>` — a
  * superstep labels its jobs `graft <op> step <i>`, an operator its setup,
  * finish and one-shot phases — through Spark's call-site properties: jobs
  * and stages take their names from them, and when both are set Spark
  * skips the stack walk (`Utils.getCallSite`) it otherwise makes for every
  * new RDD and query.
  */
object JobLabel {
  private val CallSiteKeys = Seq("callSite.short", "callSite.long")

  /** Run `f` with both call-site properties set to `graft <op> <phase>` on
    * this thread; restores the previous values, also when `f` throws, so
    * labels nest (an operator's phase inside another's setup). */
  def apply[T](spark: SparkSession, op: String, phase: String)(f: => T): T = {
    val sc = spark.sparkContext
    val label = s"graft $op $phase"
    val prev = CallSiteKeys.map(sc.getLocalProperty)
    CallSiteKeys.foreach(sc.setLocalProperty(_, label))
    try f
    finally CallSiteKeys.zip(prev).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
