package graft

import org.apache.spark.SparkContext

/**
 * Labels the Spark jobs `body` submits from this thread with the job
 * description `graft:<phase>`, so the UI, the event log and listeners
 * attribute them without parsing call sites. The caller's own description
 * (or its absence) is restored afterwards, also when `body` throws.
 */
object JobPhase {
  private val Key = "spark.job.description"

  def apply[T](sc: SparkContext, phase: String)(body: => T): T = {
    val previous = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s"graft:$phase")
    try body
    finally sc.setLocalProperty(Key, previous)
  }
}
