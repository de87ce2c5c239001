package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** Spans around the benchmark's calls into the engine's layers, kept in
  * memory and written once when the benchmark ends. While a span is open,
  * the jobs it submits carry its name in the benchmark's own local property
  * ([[Meter.SpanKey]]), so the listener can attribute task time to it.
  */
final class Tracer(sc: SparkContext) {
  import Tracer.Span

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Int] = Nil
  var runId: Int = 0

  def apply[T](name: String)(f: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, parent, runId, System.currentTimeMillis(), -1L, System.nanoTime(), -1L)
    val prevProp = sc.getLocalProperty(Meter.SpanKey)
    sc.setLocalProperty(Meter.SpanKey, name)
    stack = id :: stack
    try f
    finally {
      stack = stack.tail
      sc.setLocalProperty(Meter.SpanKey, prevProp)
      spans(id) = spans(id).copy(endMs = System.currentTimeMillis(), endNs = System.nanoTime())
    }
  }

  def ofRun(run: Int): Seq[Span] = spans.filter(_.run == run).toSeq

  /** Wall seconds of every span of `run` named `name`, summed. */
  def wallS(run: Int, name: String): Double =
    ofRun(run).filter(_.name == name).map(_.wallS).sum

  /** Self time: a span's duration minus the part its child spans cover. */
  def selfS(run: Int, name: String): Double = {
    val rs = ofRun(run)
    rs.filter(_.name == name).map { s =>
      s.wallS - rs.filter(_.parent == s.id).map(_.wallS).sum
    }.sum
  }

  def windows(run: Int, name: String): Seq[(Long, Long)] =
    ofRun(run).filter(_.name == name).map(s => (s.startMs, s.endMs))

  def writeJsonLines(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.run},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS}}""")
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, run: Int,
                        startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
    def wallS: Double = (endNs - startNs) / 1e9
  }
}
