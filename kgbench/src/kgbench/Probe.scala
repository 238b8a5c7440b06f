package kgbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark task metrics summed per layer. */
final class LayerStats {
  var jobs = 0
  var taskNs = 0L
  var cpuNs = 0L
  var gcNs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  /** Whether a stage of this layer ran inside the distributed
    * connected-components fixpoint (seen in the stage's call site). */
  var distributedCc = false
  /** Task durations (ms) per stage, for skew. */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max ÷ median task duration of the stage with the most task time. */
  def maxOverMedianTask: Double =
    if (stageTasks.isEmpty) 0.0
    else {
      val ds = stageTasks.values.maxBy(_.sum).sorted
      val med = ds(ds.length / 2)
      if (med <= 0) 0.0 else ds.last.toDouble / med
    }
}

/** SparkListener the benchmark registers itself: attributes every job to
  * the layer named by the `kgbench.layer` local property of the thread
  * that launched it (a local property survives the job-group changes the
  * program makes inside a call, e.g. `TableIO.writeResumable`).
  */
final class Probe extends SparkListener {
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val byLayer = mutable.Map.empty[String, LayerStats]

  private def stats(layer: String): LayerStats = synchronized {
    byLayer.getOrElseUpdate(layer, new LayerStats)
  }

  def get(layer: String): LayerStats = stats(layer)

  override def onJobStart(j: SparkListenerJobStart): Unit =
    Option(j.properties).flatMap(p => Option(p.getProperty(Probe.Key)))
      .foreach { l =>
        val s = stats(l)
        s.synchronized { s.jobs += 1 }
        j.stageIds.foreach(stageLayer.put(_, l))
      }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageLayer.get(e.stageInfo.stageId)).foreach { l =>
      if (e.stageInfo.details.contains("KgPipeline$.connectedComponents"))
        stats(l).distributedCc = true
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageLayer.get(e.stageInfo.stageId)).foreach { l =>
      val i = e.stageInfo
      System.err.println(f"[stage] $l%-9s ${i.stageId}%4d tasks ${i.numTasks}%4d " +
        f"${(i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)) / 1e3}%6.2f s " +
        i.name)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageLayer.get(e.stageId)).foreach { l =>
      val m = e.taskMetrics
      if (m != null) {
        val s = stats(l)
        s.synchronized {
          s.taskNs += m.executorRunTime * 1000000L
          s.cpuNs += m.executorCpuTime
          s.gcNs += m.jvmGCTime * 1000000L
          s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          s.shuffleRecords += m.shuffleReadMetrics.recordsRead
          s.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            e.taskInfo.duration
        }
      }
    }
}

object Probe {
  val Key = "kgbench.layer"
}

/** One timed span: a layer call, or a group of them (a whole build). */
final case class Span(run: String, id: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, written out once at the end of a run. Spark
  * layers are tagged with `setJobGroup` and the [[Probe.Key]] property so
  * the [[Probe]] can attribute their task metrics.
  */
final class Tracer(val run: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def span[A](name: String, sc: Option[SparkContext] = None)(f: => A): A = {
    val id = spans.length
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(run, id, parent, name, 0L, 0L)
    stack = id :: stack
    sc.foreach { c =>
      c.setJobGroup(name, name)
      c.setLocalProperty(Probe.Key, name)
    }
    val t0 = System.nanoTime()
    try f
    finally {
      spans(id) = spans(id).copy(startNs = t0, endNs = System.nanoTime())
      stack = stack.tail
      sc.foreach { c =>
        c.clearJobGroup()
        c.setLocalProperty(Probe.Key, null)
      }
    }
  }

  /** Duration minus the part covered by direct children. */
  def selfSecs(s: Span): Double =
    s.secs - spans.filter(_.parent == s.id).map(_.secs).sum

  def toJson: String = spans.map { s =>
    f"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSecs(s)}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
