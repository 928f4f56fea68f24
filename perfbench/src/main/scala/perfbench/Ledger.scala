package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-phase Spark accounting. The client sets the local property
  * [[Ledger.TagKey]] to `<pass>|<key>|<phase>` around each call it
  * times; every job started under that tag, and every stage and task
  * of such a job, is charged to it. Jobs started with no tag are
  * charged to "untagged". Events arrive on the listener bus thread;
  * readers call `BusDrain` first and then [[snapshot]]. */
class Ledger extends SparkListener {
  import Ledger._

  private val byTag = mutable.LinkedHashMap.empty[String, Counters]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobTag = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]

  private def counters(tag: String): Counters = byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse(Untagged)
    val c = counters(tag)
    c.jobs += 1
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    c.sites(site) = c.sites.getOrElse(site, 0L) + 1
    jobTag(e.jobId) = tag
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageTag.getOrElseUpdate(s, tag))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (tag <- jobTag.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
      counters(tag).jobSpans += ((t0, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val tag = stageTag.getOrElse(e.stageId, Untagged)
    val c = counters(tag)
    c.tasks += 1
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRows += m.inputMetrics.recordsRead
      c.result += m.resultSize
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val tag = stageTag.getOrElse(info.stageId, Untagged)
    val c = counters(tag)
    c.stages += 1
    val durations = stageTasks.remove(info.stageId).getOrElse(mutable.ArrayBuffer.empty[Long])
    val wall = for (s <- info.submissionTime; f <- info.completionTime) yield f - s
    if (durations.nonEmpty) {
      val sorted = durations.sorted
      val median = sorted(sorted.length / 2)
      val slowest = wall.getOrElse(sorted.last)
      if (slowest >= c.slowestStageMs) {
        c.slowestStageMs = slowest
        c.slowestStageSkew = sorted.last.toDouble / math.max(median, 1L)
      }
    }
  }

  /** Counters per tag, in first-seen order. */
  def snapshot: Seq[(String, Counters)] = synchronized(byTag.toSeq)
}

object Ledger {
  val TagKey = "perfbench.tag"
  val Untagged = "untagged"

  final class Counters {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var inputRows = 0L
    var result = 0L
    /** Wall time of the tag's longest stage and that stage's
      * max / median task duration. */
    var slowestStageMs = -1L
    var slowestStageSkew = 0.0
    /** Jobs per call site (the name of the job's final stage). */
    val sites = mutable.LinkedHashMap.empty[String, Long]
    /** (start, end) driver clock millis of each finished job. */
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

    def toJson: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
      "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead, "spill" -> spill,
      "input_rows" -> inputRows, "result" -> result, "skew" -> slowestStageSkew, "sites" -> sites.toMap,
      "job_spans" -> jobSpans.map { case (a, b) => Seq(a, b) }.toSeq)
  }
}

/** In-memory span recorder: a span has a name, start, end, parent
  * and the id of the query it belongs to. Spans are kept in memory
  * and written out once, when the run ends. A disabled recorder runs
  * the body and records nothing. */
final class Spans(enabled: Boolean) {
  private val out = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 0
  private var current = -1

  def apply[T](name: String, query: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      current = id
      val t0 = System.nanoTime()
      try body
      finally {
        out += Map("id" -> id, "parent" -> parent, "query" -> query, "name" -> name,
          "start_ns" -> t0, "end_ns" -> System.nanoTime())
        current = parent
      }
    }

  def recorded: Seq[Map[String, Any]] = out.toSeq
}
