package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** In-memory span recorder for the traced run.
  *
  * A span is (id, name, start, end, parent, run id); names are
  * `<layer>.<call>`, where the layer is a package of the program
  * (`filter`, `functions`, `catalog`, `jobs`, `queries`, `profile`) or
  * `spark` for engine work and `bench` for the harness itself. Spans are
  * opened only around calls the benchmark makes, plus one child span per
  * Spark stage reported by [[SparkMetrics]] (parented through the
  * `perfbench.span` local property, which jobs inherit from the calling
  * thread). Nothing is written until [[write]] at the end of the run.
  */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, run: String,
      startNs: Long, endNs: Long) {
    def layer: String = name.takeWhile(_ != '.')
    def durS: Double = (endNs - startNs) / 1e9
  }

  val SpanProp = "perfbench.span"

  @volatile var enabled = false
  private var runId = ""
  private var spark: SparkSession = _
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  // one (wall, monotonic) pair maps Spark's epoch-millisecond stage times
  // onto the span clock
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Identifier shared by the spans of one operation. */
  def start(run: String): Unit = synchronized { runId = run }

  /** Session whose jobs should carry the current span id. */
  def attach(s: SparkSession): Unit = synchronized { spark = s }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val (id, parent) = synchronized {
      val id = nextId
      nextId += 1
      val p = stack.headOption.getOrElse(0)
      stack = id :: stack
      (id, p)
    }
    setProp(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      synchronized {
        spans += Span(id, name, parent, runId, t0, t1)
        stack = stack.tail
      }
      setProp(parent)
    }
  }

  private def setProp(id: Int): Unit = {
    val s = synchronized(spark)
    if (s != null)
      s.sparkContext.setLocalProperty(SpanProp, if (id == 0) null else id.toString)
  }

  /** Span reported by the engine (epoch milliseconds); kept when the work
    * was submitted under a recorded span.
    */
  def external(name: String, parent: Int, startMs: Long, endMs: Long): Unit =
    if (parent > 0) synchronized {
      val id = nextId
      nextId += 1
      spans += Span(id, name, parent, runId,
        nano0 + (startMs - epochMs0) * 1000000L,
        nano0 + (endMs - epochMs0) * 1000000L)
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Durations (s) of every span with this exact name. */
  def durations(name: String): Seq[Double] = all.filter(_.name == name).map(_.durS)

  /** Self time per layer, per root span named `root` (the measured
    * operations): each span's duration minus the part of its interval
    * covered by the union of its children, summed over the spans below
    * the roots and divided by the number of roots.
    */
  def selfTimeByLayer(root: String): Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    val roots = ss.filter(_.name == root)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    val under = roots.flatMap(subtree)
    val n = math.max(roots.size, 1).toDouble
    under.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      covered += curB - curA
      s.layer -> math.max(0L, (s.endNs - s.startNs) - covered) / 1e9 / n
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** One JSON object per line: id, name, parent, run, start/end in ns. */
  def write(path: String): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      Json.mapper.writeValueAsString(Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "run" -> s.run, "start_ns" -> (s.startNs - nano0),
        "end_ns" -> (s.endNs - nano0))) + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString)
  }
}
