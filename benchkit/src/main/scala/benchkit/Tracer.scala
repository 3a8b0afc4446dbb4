package benchkit

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** One recorded span: times in ms since the run started. */
final case class Span(id: Int, name: String, parent: Int, trace: Int, startMs: Double, var endMs: Double = -1)

/** In-memory span recorder for the traced run. Spans nest through a
  * per-thread stack; opening a span also sets the `benchkit.span`
  * Spark local property, so jobs submitted inside it (and by threads
  * the program starts inside it, which inherit local properties) are
  * attributed to it by [[Rollup]]. Spans are written out at the end.
  */
final class Tracer(sc: SparkContext) {
  private val t0    = System.nanoTime()
  val spans         = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  var trace         = 0

  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  def span[T](name: String)(body: => T): T = {
    val parent = stack.get.headOption
    val s = synchronized {
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), trace, nowMs)
      spans += s; s
    }
    val prevProp = sc.getLocalProperty("benchkit.span")
    stack.set(s :: stack.get)
    sc.setLocalProperty("benchkit.span", s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      stack.set(stack.get.tail)
      sc.setLocalProperty("benchkit.span", prevProp)
    }
  }

  /** Duration minus the part of it covered by child spans. */
  def selfMs(s: Span): Double = s.endMs - s.startMs - covered(spans.filter(_.parent == s.id).toSeq, s.startMs, s.endMs)

  /** Length of the union of `ss` clipped to [a, b]. */
  def covered(ss: Seq[Span], a: Double, b: Double): Double = {
    var total = 0.0; var cs = -1.0; var ce = -1.0
    ss.map(x => (math.max(a, x.startMs), math.min(b, x.endMs))).filter(p => p._2 > p._1).sortBy(_._1).foreach {
      case (s, e) =>
        if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e } else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total
  }

  def toJson: java.util.List[java.util.Map[String, Any]] = {
    val out = new java.util.ArrayList[java.util.Map[String, Any]]()
    spans.foreach { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("name", s.name); m.put("parent", s.parent); m.put("trace", s.trace)
      m.put("start_ms", s.startMs); m.put("end_ms", s.endMs)
      out.add(m)
    }
    out
  }
}
