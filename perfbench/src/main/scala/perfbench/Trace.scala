package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Every span of one query
  * invocation or ingest pass shares `invocation`. */
final case class Span(invocation: String, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Times the calls into each layer. The harness always takes the
  * timestamps (query latency is their sum); with tracing on it also keeps
  * the spans in memory and runs each phase under its own job group, so
  * [[Counters]] can attribute every job, stage and task to the
  * invocation and phase that launched it. */
final class Tracer(sc: SparkContext) {
  private var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = new Counters
  sc.addSparkListener(counters)

  def enabled: Boolean = on

  /** Switches tracing for the passes that follow; counters only ever
    * see jobs run under a traced job group. */
  def enable(b: Boolean): Unit = on = b

  /** Runs `body` as phase `name` of `inv`; returns its result and the
    * phase's duration in seconds. Exceptions propagate after the span is
    * closed. */
  def phase[T](inv: String, name: String)(body: => T): (T, Double) = {
    if (on) sc.setJobGroup(s"$inv/$name", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      if (on) {
        spans += Span(inv, name, t0, t1)
        sc.clearJobGroup()
      }
    }
  }

  /** Waits until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.waitUntilEmpty(sc, 60000L)
}

/** Scheduler counts per job group ("invocation/phase"), from a listener
  * the benchmark registers itself. Stages a job skips (reused shuffle
  * output) never complete and are not counted. */
final class Counters extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, input = 0L
    /** max/median task run time of each stage with at least 2 tasks */
    val skew = mutable.ArrayBuffer.empty[Double]
  }

  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val taskRun = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  /** Forgets everything counted so far. */
  def reset(): Unit = { byGroup.clear(); stageGroup.clear(); taskRun.clear() }

  private def acc(group: String): Acc =
    byGroup.computeIfAbsent(group, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      acc(group).synchronized { acc(group).jobs += 1 }
      e.stageIds.foreach(stageGroup.put(_, group))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageGroup.containsKey(e.stageId) && e.taskMetrics != null) {
      val b = taskRun.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty)
      b.synchronized { b += e.taskMetrics.executorRunTime }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageGroup.get(info.stageId)).foreach { group =>
      val a = acc(group)
      val runs = Option(taskRun.remove(info.stageId)).map(_.toSeq).getOrElse(Nil)
      a.synchronized {
        a.stages += 1
        a.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
        }
        if (runs.size >= 2) {
          val med = Report.median(runs.map(_.toDouble))
          a.skew += runs.max / math.max(med, 1.0)
        }
      }
    }
  }

  /** Snapshot of the groups whose phase (the part after '/') is in
    * `phases`, or of every group when `phases` is empty. */
  def groups(phases: Set[String] = Set.empty): Seq[Acc] =
    byGroup.asScala.toSeq.collect {
      case (g, a) if phases.isEmpty || phases(g.substring(g.lastIndexOf('/') + 1)) => a
    }
}
