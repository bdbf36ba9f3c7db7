package perfbench

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Scheduler counters of one job group, summed from listener events. */
final class GroupCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var busyMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L

  def add(c: GroupCounters): Unit = c.synchronized {
    jobs += c.jobs; stages += c.stages; tasks += c.tasks
    busyMs += c.busyMs; gcMs += c.gcMs; shuffleWriteBytes += c.shuffleWriteBytes
  }

  def toJson: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"busy_ms":$busyMs,""" +
      s""""gc_ms":$gcMs,"shuffle_write_bytes":$shuffleWriteBytes}"""
}

/** Benchmark-owned listener: rolls Spark's own task and job events up
  * per job group (the `spark.jobGroup.id` local property the harness
  * sets around each pass or layer call). Jobs outside any group count
  * under "". Nothing in the library is instrumented; this reads only
  * what the listener bus already publishes. */
class Counters extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def group(name: String): GroupCounters =
    groups.computeIfAbsent(name, _ => new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    val c = group(g)
    c.synchronized { c.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = group(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = group(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.busyMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def snapshot: Map[String, GroupCounters] = groups.asScala.toMap

  def total: GroupCounters = {
    val t = new GroupCounters
    groups.values.asScala.foreach(t.add)
    t
  }

  /** Number of tasks seen so far — polled until it stops moving, since
    * the listener bus delivers events after the action returns. */
  def taskCount: Long = groups.values.asScala.map(c => c.synchronized(c.tasks)).sum
}

object Counters {
  /** Peak bytes used by the G1 old generation since JVM start. */
  def oldGenPeakBytes: Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName.contains("Old Gen"))
      .map(_.getPeakUsage.getUsed).getOrElse(0L)

  /** Wait until the listener bus has delivered every pending task event
    * (the count is stable across two polls 100 ms apart). */
  def drain(c: Counters): Unit = {
    var last = -1L
    var n = c.taskCount
    var polls = 0
    while (n != last && polls < 100) {
      Thread.sleep(100)
      last = n
      n = c.taskCount
      polls += 1
    }
  }
}

/** The same counters for a process the benchmark does not own (the
  * pipeline main), attached with `-Dspark.extraListeners`. Writes the
  * totals, every job's duration and the old-generation peak as JSON to
  * the path in the `perfbench.counters.out` system property when the
  * application ends. */
class PipelineCounters(conf: SparkConf) extends Counters {
  private val jobStarts = new ConcurrentHashMap[Int, Long]()
  private val jobSeconds = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    super.onJobStart(e)
    jobStarts.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(s => jobSeconds.add((e.time - s) / 1e3))

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    val out = sys.props.get("perfbench.counters.out")
      .orElse(conf.getOption("spark.perfbench.counters.out"))
    out.foreach { path =>
      val t = total
      val json = t.toJson.dropRight(1) +
        s""","old_gen_peak_bytes":${Counters.oldGenPeakBytes},""" +
        s""""job_s":${jobSeconds.asScala.mkString("[", ",", "]")}}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
    }
  }
}
