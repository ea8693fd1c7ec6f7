package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Spark-side counters of one tagged phase, summed over its tasks. */
final class PhaseStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorCpuNs = 0L
  var executorRunMs = 0L
  var gcMs = 0L
  var resultBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val taskMs = scala.collection.mutable.ArrayBuffer.empty[Long]

  def +=(o: PhaseStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    executorCpuNs += o.executorCpuNs; executorRunMs += o.executorRunMs; gcMs += o.gcMs
    resultBytes += o.resultBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; taskMs ++= o.taskMs
  }
}

/** Collects task metrics per job group. The benchmark tags every job
  * it triggers with a group `op<i>/<phase>` (`SparkContext.setJobGroup`
  * is inherited by the broadcast and subquery threads Spark SQL starts),
  * so counters land on the op and phase that caused them. Registered
  * only in the traced run.
  */
final class PhaseListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stats = new ConcurrentHashMap[String, PhaseStats]()
  private val endedJobs = ConcurrentHashMap.newKeySet[Int]()

  private def of(group: String): PhaseStats = stats.computeIfAbsent(group, _ => new PhaseStats)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    of(g).synchronized { of(g).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = endedJobs.add(e.jobId)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties)
    stageGroup.put(e.stageInfo.stageId, g)
    of(g).synchronized { of(g).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("untagged")
    val s = of(g)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      s.taskMs += e.taskInfo.duration
      if (m != null) {
        s.executorCpuNs += m.executorCpuTime
        s.executorRunMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.resultBytes += m.resultSize
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Block until every job started under `group` has been seen ending,
    * i.e. all its task events have been delivered (the listener bus
    * keeps event order per listener).
    */
  def await(sc: SparkContext, group: String): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    def pending = sc.statusTracker.getJobIdsForGroup(group).exists(id => !endedJobs.contains(id))
    while (pending && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Sum of every phase of op `op` whose phase name matches `phase`
    * (None = all phases).
    */
  def sum(op: Int, phase: Option[String] = None): PhaseStats = {
    val out = new PhaseStats
    stats.asScala.foreach { case (g, s) =>
      val parts = g.split("/", 2)
      if (parts(0) == s"op$op" && phase.forall(p => parts.length > 1 && parts(1) == p))
        s.synchronized(out += s)
    }
    out
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.length - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
