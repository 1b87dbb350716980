package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of the benchmark's own code. `kind` is `op` for a
  * whole operation and `call` / `plan` / `exec` for its phases; a phase's
  * parent is its op, an op's parent is the pass. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      kind: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark counters of every job that ran under one job group. */
final class GroupCounters {
  var jobs = 0
  var stages = 0
  var stagesSkipped = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Listener that files job, stage and task counters under the job group
  * that was set on the submitting thread. Spark carries a thread's local
  * properties into the broadcast and subquery threads it starts, so a
  * group covers every job its span caused. */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, GroupCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStages = mutable.HashMap.empty[Int, (String, Seq[Int])]
  private val submitted = mutable.HashSet.empty[Int]

  private def counters(g: String) = byGroup.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      counters(group).jobs += 1
      val ids = e.stageInfos.map(_.stageId)
      ids.foreach(stageGroup(_) = group)
      jobStages(e.jobId) = (group, ids)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStages.remove(e.jobId).foreach { case (group, ids) =>
      val c = counters(group)
      c.stages += ids.size
      c.stagesSkipped += ids.count(id => !submitted.contains(id))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (group <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(group)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.taskMs += e.taskInfo.duration
    }
  }

  def get(group: String): GroupCounters = synchronized(byGroup.getOrElse(group, new GroupCounters))
}

/** In-memory span recorder for one pass. When `listener` is set each span
  * runs under its own job group, `<trace>/<span id>`, so the listener can
  * attribute Spark work to it; when it is `None` the tracer only keeps
  * wall-clock times and touches no Spark state. */
final class Tracer(val traceId: String, sc: SparkContext, listener: Option[GroupListener]) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val persistedMb = mutable.LinkedHashMap.empty[String, Double]
  private var nextId = 1
  private val stack = mutable.Stack[Int](0)

  def group(spanId: Int): String = s"$traceId/$spanId"

  def span[A](name: String, layer: String, kind: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.top
    stack.push(id)
    listener.foreach(_ => sc.setJobGroup(group(id), s"$layer:$name:$kind", interruptOnCancel = false))
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      spans += Span(id, parent, name, layer, kind, t0, t1)
      listener.foreach { _ =>
        if (stack.top == 0) sc.clearJobGroup() else sc.setJobGroup(group(stack.top), "", false)
      }
    }
  }

  /** Records the blocks still persisted after op `name`. */
  def notePersisted(name: String): Unit =
    if (listener.isDefined)
      persistedMb(name) = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def counters(s: Span): GroupCounters = listener.fold(new GroupCounters)(_.get(group(s.id)))

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}
