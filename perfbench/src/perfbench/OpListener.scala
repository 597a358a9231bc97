package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark engine counters per operation. Every operation the benchmark
  * runs carries its own job group; this listener files each job, stage
  * and task under the group it was launched in. Events arrive on the
  * listener bus asynchronously, so [[drain]] runs a sentinel job and
  * waits for its end event: the bus delivers in order, so every event
  * of the operations before it has been seen by then. */
final class OpListener(sc: SparkContext) extends SparkListener {

  final class Acc {
    var jobs, stages, tasks, taskFailures = 0L
    var schedWaitMs, runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, shuffleRecords = 0L
    var spill, peakExecMem, inputBytes = 0L
  }

  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val sentinelsSeen = new ConcurrentHashMap[String, java.lang.Boolean]()
  private var sentinelN = 0

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val a = acc(groupOf(e.properties))
    a.synchronized { a.jobs += 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties)
    val id = e.stageInfo.stageId
    stageGroup.put(id, g)
    stageSubmitted.put(id,
      java.lang.Long.valueOf(
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    val a = acc(g)
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("(none)")
    val a = acc(g)
    val info = e.taskInfo
    val m = e.taskMetrics
    val sub = Option(stageSubmitted.get(e.stageId)).map(_.longValue)
    a.synchronized {
      a.tasks += 1
      if (info != null && !info.successful) a.taskFailures += 1
      if (info != null) sub.foreach(t0 =>
        a.schedWaitMs += math.max(0L, info.launchTime - t0))
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
    if (g.startsWith("sentinel-")) sentinelsSeen.put(g, true)
  }

  /** Block until every event of the jobs launched so far was delivered. */
  def drain(): Unit = {
    sentinelN += 1
    val g = s"sentinel-$sentinelN"
    sc.setJobGroup(g, "listener drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!sentinelsSeen.containsKey(g) && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  /** The counters of one job group (zeros if it launched no job). */
  def of(group: String): Acc = Option(byGroup.get(group)).getOrElse(new Acc)
}
