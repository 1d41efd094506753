package graft.ops

import scala.collection.mutable

/** Task-graph runtime/cost simulator (reference: execution_utils.py:136-248)
  * — list scheduling over p on-prem cores plus a cloud tier with a per-ms
  * bandwidth ledger for up/downlink.
  *
  * Semantics reproduced exactly (validated against the reference's own
  * `detect_to_track(60,120)` output in TaskSimSpec):
  *  - node cloud runtime += roundtrip unless all inputs already on cloud;
  *  - ready tasks processed in dispatchable order (stable sort);
  *  - on-prem: single-core when |rt_all − rt_single| < 0.5·rt_single, else
  *    all cores split rt_all evenly;
  *  - cloud: upload charged against the ledger only when
  *    rt_cloud > rt_single + 10; download always charged;
  *  - cost = Σ rt_single over cloud-placed nodes.
  *
  * Pure Scala; at scale it runs inside an Aggregator/flatMapGroups keyed by
  * (graph_id, candidate placement) — sequential per candidate, parallel
  * across the thousands of candidate placements the offline tuner explores.
  */
object TaskSim {

  /** One DAG node (execution_utils.py:36-61). */
  final case class Task(
      id: Int,
      rtSingle: Double,
      rtAll: Double,
      rtCloud: Double,
      inBytes: Long,
      outBytes: Long,
      deps: Seq[Int],
      placement: Int)

  final case class Graph(
      tasks: IndexedSeq[Task],
      cloudRoundtrip: Double = 160.0,
      bandwidthBps: Double = 1850000.0) {

    def bandwidthPerMs: Double = bandwidthBps / 1000.0

    /** Divide all runtimes and the roundtrip by `maxRt`
      * (execution_utils.py:126-133).
      */
    def normalized(maxRt: Double): Graph =
      copy(
        tasks = tasks.map(t => t.copy(
          rtSingle = t.rtSingle / maxRt, rtAll = t.rtAll / maxRt, rtCloud = t.rtCloud / maxRt)),
        cloudRoundtrip = cloudRoundtrip / maxRt)

    def simulateCost: Double = tasks.filter(_.placement == 1).map(_.rtSingle).sum

    def simulateRt(cores: Int): Double = {
      // mutable working copy
      final class N(val t: Task) {
        var deps: List[Int] = t.deps.toList
        var dispatchable: Double = if (t.deps.isEmpty) 0.0 else -1.0
        var rtCloud: Double = t.rtCloud
      }
      val nodes = tasks.map(new N(_))

      // cloud runtime adjustment (execution_utils.py:145-154)
      nodes.foreach { n =>
        if (n.t.deps.isEmpty) n.rtCloud += cloudRoundtrip
        else if (n.t.deps.exists(d => tasks(d).placement == 0)) n.rtCloud += cloudRoundtrip
      }

      val coreQ = Array.fill(cores)(0.0)
      // float time keys — the reference indexes its defaultdict with
      // cur_time + transfer where cur_time may be fractional
      val ledger = mutable.Map.empty[Double, Double].withDefaultValue(0.0)
      var remaining = nodes.toBuffer
      var total = 0.0

      // the reference's comparator: ready-before-blocked, ready ordered by
      // dispatchable time; blocked↔blocked and equal-dispatch are ties
      // (stable sort preserves insertion order — same as Python's sort)
      val ord = new Ordering[N] {
        def compare(a: N, b: N): Int =
          if (a.deps.isEmpty && b.deps.isEmpty) java.lang.Double.compare(a.dispatchable, b.dispatchable)
          else if (a.deps.nonEmpty && b.deps.nonEmpty) 0
          else if (a.deps.nonEmpty) 1
          else -1
      }

      while (remaining.nonEmpty) {
        val sorted = remaining.sorted(ord) // stable
        val n = sorted.head
        require(n.dispatchable > -1, "deadlock: no dispatchable task")
        val curTime = n.dispatchable

        val finish: Double =
          if (n.t.placement == 0) {
            if (math.abs(n.t.rtAll - n.t.rtSingle) < 0.5 * n.t.rtSingle) {
              val core = coreQ.indexOf(coreQ.min)
              coreQ(core) = math.max(curTime, coreQ(core)) + n.t.rtSingle
              coreQ(core)
            } else {
              var f = 0.0
              var i = 0
              while (i < cores) {
                coreQ(i) = math.max(curTime, coreQ(i)) + n.t.rtAll / cores
                f = math.max(f, coreQ(i))
                i += 1
              }
              f
            }
          } else {
            // upload against the per-ms bandwidth ledger
            var transfer = 0
            if (n.rtCloud > n.t.rtSingle + 10) {
              var rem = n.t.inBytes.toDouble
              while (rem > 0) {
                val slot = curTime + transfer
                val avail = bandwidthPerMs - ledger(slot)
                val trans = math.min(avail, rem)
                rem -= trans
                ledger(slot) += trans
                transfer += 1
              }
            }
            var f = curTime + n.rtCloud + transfer
            var rem = n.t.outBytes.toDouble
            while (rem > 0) {
              val avail = bandwidthPerMs - ledger(f)
              val trans = math.min(avail, rem)
              rem -= trans
              ledger(f) += trans
              f += 1
            }
            f
          }

        total = math.max(total, finish)
        remaining = sorted.tail
        remaining.foreach { m =>
          if (m.deps.contains(n.t.id)) {
            m.deps = m.deps.filterNot(_ == n.t.id)
            if (m.deps.isEmpty && m.dispatchable == -1.0) m.dispatchable = finish
          }
        }
      }
      total
    }
  }

  /** detect_to_track generator (execution_utils.py:280-291): one detector
    * task (721/1941) per `knob` frames, followed by `knob` tracker tasks
    * (519/519) forming a CHAIN — each tracker depends on the previous node
    * (`[self.num_nodes-1]`), which is the real KCF-style data dependency:
    * frame t's track state needs frame t-1's.
    */
  def detectToTrack(knob: Int, numFrames: Int): Graph = {
    require(numFrames % knob == 0)
    val tasks = IndexedSeq.newBuilder[Task]
    var id = 0
    for (_ <- 0 until numFrames / knob) {
      tasks += Task(id, 721, 1941, 721, 0, 0, Nil, 0)
      id += 1
      for (_ <- 0 until knob) {
        tasks += Task(id, 519, 519, 519, 0, 0, Seq(id - 1), 0)
        id += 1
      }
    }
    Graph(tasks.result())
  }

  /** COVID-style graph (covid_measures.py:121-140): per cadence-frame a
    * mask-detection parent (850/3000) with 4 classifier children
    * (320/1300); distance tasks (721/1941) at their own cadence.
    */
  def covidGraph(maskCadence: Int, distCadence: Int, numFrames: Int): Graph = {
    val tasks = IndexedSeq.newBuilder[Task]
    var id = 0
    for (f <- 0 until numFrames) {
      if (f % maskCadence == 0) {
        val parent = id
        tasks += Task(parent, 850, 3000, 850, 0, 0, Nil, 0)
        id += 1
        for (_ <- 0 until 4) {
          tasks += Task(id, 320, 1300, 320, 0, 0, Seq(parent), 0)
          id += 1
        }
      }
      if (f % distCadence == 0) {
        tasks += Task(id, 721, 1941, 721, 0, 0, Nil, 0)
        id += 1
      }
    }
    Graph(tasks.result())
  }
}
