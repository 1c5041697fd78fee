package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: jobs, stages and tasks it ran and the
  * shuffle and spill bytes its tasks wrote.
  */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
  }
}

/** One timed interval: a layer call inside an op, or the op itself. */
final case class Span(
    id: Int,
    name: String,
    parent: Int,
    op: Int,
    startNs: Long,
    var endNs: Long = -1L,
    var gcMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder plus the one listener that attributes Spark jobs, stages,
  * tasks, shuffle and spill to the innermost open span.
  *
  * Attribution goes through a job-group-independent local property set on
  * the calling thread (and inherited by the threads the library spawns to
  * overlap jobs), so it is exact regardless of listener-bus delay; callers
  * [[drain]] the bus before they read counts. Op spans are always
  * recorded — the end-to-end shuffle figures come from them. Layer spans
  * inside an op are recorded only when `detailed` (the traced run).
  */
final class Tracer(sc: SparkContext, var detailed: Boolean) {
  private val Key = "perfbench.span"
  private val origin = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val counts = new java.util.concurrent.ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = spanOf(e.properties)
      if (id >= 0) {
        countsOf(id).jobs += 1
        e.stageIds.foreach(s => stageSpan.putIfAbsent(s, id))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = stageSpan.getOrDefault(e.stageInfo.stageId, -1)
      if (id >= 0 && e.stageInfo.submissionTime.isDefined) countsOf(id).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.getOrDefault(e.stageId, -1)
      val m = e.taskMetrics
      if (id >= 0 && m != null) {
        val c = countsOf(id)
        c.tasks += 1
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
      }
    }
  }
  sc.addSparkListener(listener)

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(q => Option(q.getProperty(Key))).map(_.toInt).getOrElse(-1)

  // listener-bus thread only (single consumer), so plain field updates
  private def countsOf(id: Int): Counts = counts.computeIfAbsent(id, _ => new Counts)

  def nowNs: Long = System.nanoTime() - origin

  /** Runs `body` as an op-level span (always recorded). */
  def op[T](name: String, opId: Int)(body: => T): T = record(name, opId, body)

  /** Runs `body` as a layer span inside the current op (traced run only). */
  def span[T](name: String)(body: => T): T =
    if (!detailed) body
    else record(name, open.headOption.map(_.op).getOrElse(-1), body)

  private def record[T](name: String, opId: Int, body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), opId, nowNs)
    spans += s
    open = s :: open
    sc.setLocalProperty(Key, s.id.toString)
    val gc0 = gcMillis()
    try body
    finally {
      s.endNs = nowNs
      s.gcMs = gcMillis() - gc0
      open = open.tail
      sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
    }
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Counts of a span including every span nested under it. */
  def inclusive(s: Span): Counts = {
    val c = new Counts
    Option(counts.get(s.id)).foreach(c += _)
    spans.iterator.filter(_.parent == s.id).foreach(ch => c += inclusive(ch))
    c
  }

  /** Span duration minus the part covered by its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def named(name: String): Seq[Span] = spans.filter(s => s.name == name && s.endNs >= 0).toSeq

  /** Writes every span as one JSON line: name, op id, span id, parent,
    * start/end/self in ms from run start, and its own Spark counts.
    */
  def writeJsonl(path: String): Unit = {
    drain()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = Option(counts.get(s.id)).getOrElse(new Counts)
      w.println(Json.obj(
        "name" -> s.name, "op" -> s.op, "id" -> s.id, "parent" -> s.parent,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
        "self_ms" -> selfSeconds(s) * 1e3, "gc_ms" -> s.gcMs,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "shuffle_write_bytes" -> c.shuffleWrite, "shuffle_read_bytes" -> c.shuffleRead,
        "spill_bytes" -> c.spill))
    } finally w.close()
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

/** Minimal JSON writer for flat objects (the result line and span lines). */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}:${value(v)}" }
    .mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(s) => s
    case null => "null"
    case other => str(other.toString)
  }

  /** An already-serialized JSON fragment. */
  final case class Raw(json: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
