package cfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One finished task, as Spark's public listener reports it. */
final case class TaskRec(
    launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long, deserializeMs: Long,
    schedDelayMs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** Collects task and stage records keyed by job group. Every benchmark
  * operation runs under its own job group, so the records of one
  * operation are exactly the tasks its jobs ran.
  */
final class TaskListener extends SparkListener {
  private val groupOfStage = new ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentHashMap[String, java.util.List[TaskRec]]()
  /** (submission, completion) epoch ms of each finished stage, by group. */
  private val stages = new ConcurrentHashMap[String, java.util.List[(Long, Long)]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(s => groupOfStage.put(s, g)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = groupOfStage.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val i = e.taskInfo
      val getting = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      // Spark UI's scheduler delay: what the task's wall time leaves after
      // running, (de)serializing and shipping its result
      val delay = math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - getting)
      tasks.computeIfAbsent(g, _ => java.util.Collections.synchronizedList(
        new java.util.ArrayList[TaskRec]())).add(TaskRec(
        i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.executorDeserializeTime, delay, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = groupOfStage.get(e.stageInfo.stageId)
    val info = e.stageInfo
    for (s <- info.submissionTime; c <- info.completionTime if g != null)
      stages.computeIfAbsent(g, _ => java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Long, Long)]())).add((s, c))
  }

  def tasksOf(group: String): Seq[TaskRec] =
    Option(tasks.get(group)).map(l => l.synchronized(l.asScala.toList)).getOrElse(Nil)

  /** Wall time from the first stage's submission to the last stage's
    * completion of a group; 0 when the group ran no stage.
    */
  def stageWallMs(group: String): Long =
    Option(stages.get(group)).map(l => l.synchronized(l.asScala.toList)).filter(_.nonEmpty)
      .map(ss => ss.map(_._2).max - ss.map(_._1).min).getOrElse(0L)
}

/** A finished span: times are epoch milliseconds with sub-ms resolution,
  * so driver spans and executor task spans share one time line.
  */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** In-memory span recorder of the traced run. Spans are timed from
  * outside the engine: around public calls on the driver, and from task
  * records for the work executors did. Disabled, it only runs the body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val listener = new TaskListener
  if (enabled) sc.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  private var nextGroup = 0
  private val epochAtStart = System.currentTimeMillis().toDouble
  private val nanoAtStart = System.nanoTime()
  def now: Double = epochAtStart + (System.nanoTime() - nanoAtStart) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = now
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, name, t0, now)
      }
    }

  /** Runs `body` under a fresh job group and returns that group's id;
    * with tracing on, waits for the listener to see every event of it
    * and hangs the group's tasks, as `task` spans, under the innermost
    * recorded span that contains each task's launch.
    */
  def inGroup[T](body: => T): (T, String) = {
    nextGroup += 1
    val group = s"cfbench-$nextGroup"
    val from = spans.length
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    val mine = spans.drop(from).toSeq
    if (enabled && mine.nonEmpty) {
      org.apache.spark.cfbench.ListenerBusAccess.drain(sc)
      listener.tasksOf(group).foreach { t =>
        val holders = mine.filter(s => s.start <= t.launchMs && t.launchMs <= s.end)
        val holder = if (holders.isEmpty) mine.sortBy(_.start).headOption
          else Some(holders.maxBy(s => (s.start, s.id)))
        spans += Span(nextId, holder.map(_.id).getOrElse(0), "task",
          t.launchMs.toDouble, t.finishMs.toDouble)
        nextId += 1
      }
    }
    (out, group)
  }

  /** Drops the spans recorded so far, e.g. those of a warm-up. */
  def clear(): Unit = spans.clear()

  /** Mean self time per span of each name: its duration minus the part
    * covered by the union of its children (tasks run in parallel, so
    * children may overlap each other).
    */
  def selfMs: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val ivs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter(iv => iv._2 > iv._1).sortBy(_._1)
        var covered = 0.0
        var (curS, curE) = (Double.NaN, Double.NaN)
        ivs.foreach { case (a, b) =>
          if (curS.isNaN || a > curE) {
            if (!curS.isNaN) covered += curE - curS
            curS = a; curE = b
          } else curE = math.max(curE, b)
        }
        if (!curS.isNaN) covered += curE - curS
        s.ms - covered
      }.sum / ss.size
    }
  }

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""")
    } finally w.close()
  }
}
