package graftbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._

/** Spark work attributed to the job group that submitted it. The bench
  * sets a job group around each call it makes into a layer (one query
  * replay, one spool call, one fold call), so every task's metrics land
  * on exactly one boundary. */
final class SparkCounters extends SparkListener {

  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var inputBytes = 0L; var recordsRead = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L; var gcMs = 0L
    def add(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      inputBytes += o.inputBytes; recordsRead += o.recordsRead
      shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
      gcMs += o.gcMs
    }
  }

  private val byGroup = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def counts(g: String): Counts =
    byGroup.computeIfAbsent(g, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    val c = counts(g)
    c.synchronized { c.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "")
    val c = counts(g)
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "")
    val c = counts(g)
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.inputBytes += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
      }
    }
  }

  /** Sum over the groups whose id starts with `prefix`. */
  def sum(prefix: String): Counts = {
    val out = new Counts
    byGroup.forEach((g, c) => if (g.startsWith(prefix)) c.synchronized(out.add(c)))
    out
  }

}
