package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The benchmark's own Spark listener. It keeps one record per finished task
  * and per job, attributes both to the benchmark span that was active when
  * the stage was submitted (a local property the benchmark owns), and tracks
  * the bytes held in cached or checkpointed RDD blocks from block-update
  * events, with their peak.
  *
  * Events arrive on the listener-bus thread; readers call [[drain]] first.
  */
final class Meter(sc: SparkContext) extends SparkListener {
  import Meter._

  private val stageSpan = mutable.Map.empty[Int, String]
  private val stageDesc = mutable.Map.empty[Int, String]
  private val taskRecs = ArrayBuffer.empty[Task]
  private val jobSpans = ArrayBuffer.empty[String]
  // (rdd id, block manager / block name) -> bytes in memory and on disk
  private val blocks = mutable.Map.empty[(Int, String), Long]
  private var held = 0L
  private var peak = 0L

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobSpans += prop(e.properties, SpanKey)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSpan.getOrElseUpdate(id, prop(e.properties, SpanKey))
    stageDesc.getOrElseUpdate(id, prop(e.properties, "spark.job.description"))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) taskRecs += Task(
      span = stageSpan.getOrElse(e.stageId, ""),
      desc = stageDesc.getOrElse(e.stageId, ""),
      launchMs = i.launchTime, finishMs = i.finishTime,
      runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled,
      bytesRead = m.inputMetrics.bytesRead,
      bytesWritten = m.outputMetrics.bytesWritten)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { b =>
      val key = (b.rddId, info.blockManagerId.toString + "/" + b.name)
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      held += size - blocks.getOrElse(key, 0L)
      if (size > 0) blocks(key) = size else blocks.remove(key)
      peak = math.max(peak, held)
    }
  }

  // Unpersisting an RDD drops its blocks without a block update per block.
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_._1 == e.rddId).toSeq.foreach { k => held -= blocks(k); blocks.remove(k) }
  }

  /** Wait until every event posted so far has been delivered here. */
  def drain(): Unit = org.apache.spark.perfbench.BusDrain(sc)

  def mark(): Mark = { drain(); synchronized(Mark(taskRecs.size, jobSpans.size)) }

  def tasksSince(m: Mark): Seq[Task] = { drain(); synchronized(taskRecs.drop(m.tasks).toSeq) }

  /** The span of every job submitted since the mark. */
  def jobsSince(m: Mark): Seq[String] = { drain(); synchronized(jobSpans.drop(m.jobs).toSeq) }

  def heldBytes: Long = { drain(); synchronized(held) }

  /** Bytes held per RDD id. */
  def heldRdds: Map[Int, Long] = {
    drain()
    synchronized(blocks.groupMapReduce(_._1._1)(_._2)(_ + _))
  }

  /** Restart peak tracking from the bytes held now. */
  def resetPeak(): Unit = { drain(); synchronized { peak = held } }

  def peakBytes: Long = { drain(); synchronized(peak) }

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
}

object Meter {
  val SpanKey = "perfbench.span"

  final case class Mark(tasks: Int, jobs: Int)
  final case class Task(span: String, desc: String, launchMs: Long, finishMs: Long,
                        runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                        spill: Long, bytesRead: Long, bytesWritten: Long)

  val MB: Double = 1024.0 * 1024.0

  def taskS(ts: Seq[Task]): Double = ts.map(_.runMs).sum / 1e3
  def cpuS(ts: Seq[Task]): Double = ts.map(_.cpuNs).sum / 1e9
  def gcS(ts: Seq[Task]): Double = ts.map(_.gcMs).sum / 1e3
  def shuffleMb(ts: Seq[Task]): Double = ts.map(_.shuffleWrite).sum / MB
  def spillMb(ts: Seq[Task]): Double = ts.map(_.spill).sum / MB
  def readMb(ts: Seq[Task]): Double = ts.map(_.bytesRead).sum / MB
  def writeMb(ts: Seq[Task]): Double = ts.map(_.bytesWritten).sum / MB

  /** Seconds of the window [fromMs, toMs] during which no task ran: the
    * driver's serial floor (planning, scheduling, job barriers).
    */
  def idleS(ts: Seq[Task], fromMs: Long, toMs: Long): Double = {
    val iv = ts.map(t => (math.max(t.launchMs, fromMs), math.min(t.finishMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (toMs - fromMs) - covered) / 1e3
  }
}
