package graft.control

import scala.collection.mutable.ArrayBuffer

/** Bounded ingestion-buffer simulation (reference: buffer.py) — the
  * throughput-guarantee mechanism: a knob/placement choice is only
  * admissible if its runtime still fits the buffer's time capacity.
  *
  * time_cap = space / (max_chunk_size / interval); every 2 s tick drains
  * `interval` seconds of processing, pro-rating a partially processed head
  * object. The planner charges 0.5 s against the head when it runs.
  */
final class SimBuffer(
    space: Double,
    sizePerConfig: Map[Int, Double],
    val interval: Double = 2.0,
    plannerRuntime: Double = 0.5) extends Serializable {

  private val objSizes = ArrayBuffer.empty[Double]
  private val objTimes = ArrayBuffer.empty[Double]

  private val timeCap: Double = {
    val maxSize = sizePerConfig.values.max
    space / (maxSize / interval)
  }

  /** Planner-run charge against the queue head (buffer.py:27-29). */
  def computedPlan(): Unit =
    if (objTimes.nonEmpty) objTimes(0) += plannerRuntime

  /** Flat queue snapshot (sizes, times) — exact restore counterpart. */
  def snapshot: (Seq[Double], Seq[Double]) = (objSizes.toSeq, objTimes.toSeq)

  /** Load a queue snapshot into this (fresh) buffer. */
  def restore(sizes: Seq[Double], times: Seq[Double]): Unit = {
    objSizes.clear(); objSizes ++= sizes
    objTimes.clear(); objTimes ++= times
  }

  /** Admission check (buffer.py:32-33). */
  def fits(runtime: Double): Boolean =
    objTimes.sum + runtime <= timeCap

  /** Enqueue a chunk and drain one interval of processing; returns
    * remaining space (negative ⇒ overflow, which the reference only warns
    * about — buffer.py:36-71).
    */
  def update(config: Int, runtime: Double): Double = {
    objSizes += sizePerConfig(config)
    objTimes += runtime

    var processed = interval
    var break = false
    while (processed > 0 && objSizes.nonEmpty && !break) {
      if (processed >= objTimes.head) {
        processed -= objTimes.head
        objTimes.remove(0)
        objSizes.remove(0)
      } else {
        // NOTE: reference subtracts the full interval here (not the
        // remaining `processed`) — reproduced bug-for-bug for golden parity
        val newTime = objTimes.head - interval
        objSizes(0) *= newTime / objTimes.head
        objTimes(0) = newTime
        break = true
      }
    }
    space - objSizes.sum
  }

  def occupiedTime: Double = objTimes.sum
}
