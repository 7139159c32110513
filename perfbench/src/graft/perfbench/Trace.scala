package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spark task metrics summed over the jobs one span started. */
final class TaskSums {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs, schedDelayMs = 0L
  var shuffleWriteB, shuffleReadB, spillB = 0L
  var inputB, inputRows, outputB = 0L
  val stageIds = mutable.Set.empty[Int]
  def add(o: TaskSums): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB
    spillB += o.spillB; inputB += o.inputB; inputRows += o.inputRows
    outputB += o.outputB
  }
}

/** Attributes every job, stage and task to the span whose job group
  * started it (`spark.jobGroup.id` = span id). Registered by the harness,
  * so the program under test carries no tracing code. */
final class SpanListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  val byGroup = mutable.Map.empty[String, TaskSums]

  private def sums(g: String) = byGroup.getOrElseUpdate(g, new TaskSums)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    e.stageIds.foreach(stageGroup(_) = g)
    sums(g).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = sums(stageGroup.getOrElse(e.stageId, "-"))
    if (s.stageIds.add(e.stageId)) s.stages += 1
    s.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.spillB += m.diskBytesSpilled
      s.inputB += m.inputMetrics.bytesRead
      s.inputRows += m.inputMetrics.recordsRead
      s.outputB += m.outputMetrics.bytesWritten
      if (info != null) s.schedDelayMs += math.max(0L, info.duration -
        m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
    }
  }
}

/** A span around one harness call into a layer. `parent` is -1 for a root;
  * all spans of one run share `run`. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Off: `span` only runs its body. On: each span
  * becomes the Spark job group of its thread while open, so the listener
  * bills jobs to the innermost span; spans are written out by [[write]]
  * when the run ends. */
final class Tracer(spark: SparkSession, val run: String) {
  private val sc = spark.sparkContext
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val open = new java.util.ArrayDeque[(Int, String, Long)]()
  private var nextId = 0
  private var listener: Option[SpanListener] = None

  def enabled: Boolean = listener.isDefined

  private val totals = mutable.Map.empty[String, TaskSums]

  def start(): Unit = if (listener.isEmpty) {
    val l = new SpanListener
    sc.addSparkListener(l)
    listener = Some(l)
  }

  /** Stop recording; the listener's totals join [[sums]] once its queue
    * has drained. */
  def stop(): Unit = listener.foreach { l =>
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(l)
    listener = None
    l.synchronized(l.byGroup.foreach { case (g, t) => totals.getOrElseUpdate(g, new TaskSums).add(t) })
  }

  /** Task totals per span id over every recorded stretch. */
  def sums: Map[String, TaskSums] = totals.toMap

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = Option(open.peek()).map(_._1).getOrElse(-1)
      open.push((id, name, System.nanoTime()))
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      try body
      finally {
        val (_, _, t0) = open.pop()
        synchronized(recorded += Span(id, name, parent, run, t0, System.nanoTime()))
        Option(open.peek()) match {
          case Some((pid, pname, _)) => sc.setJobGroup(pid.toString, pname, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = synchronized(recorded.toList)

  /** Write the spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startNs).map { s =>
      f"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${Tracer.selfNs(s, spans)}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Self time: the span's duration minus the part of it its direct
    * children cover (overlapping children count once). */
  def selfNs(s: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.durNs - covered
  }
}
