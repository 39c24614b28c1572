package azofbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call in the benchmark's own code. `parent` is -1 for an
  * op's root span; all spans of one op share `op`.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** Span recorder, active only in a traced run. Spans are kept in memory
  * and written out once at exit ([[Tracer.write]]).
  */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1

  def forOp[A](opId: Int, name: String)(body: => A): A = {
    op = opId
    try span(name)(body) finally op = -1
  }

  /** Times `body` as a span and returns its result with its length. */
  def timed[A](name: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = span(name)(body)
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time and count per layer (the span name up to its first
    * dot; op roots are layer "op"). Self time is a span's length minus
    * what its child spans cover.
    */
  def layers: Map[String, (Double, Int)] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(s => s.name.takeWhile(_ != '.')).map { case (l, ss) =>
      l -> (ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e6, ss.size)
    }
  }

  def write(path: java.nio.file.Path, header: Map[String, Any]): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val sb = new StringBuilder
    sb ++= "{\"header\": " ++= Json.obj(header) ++= ",\n\"layers\": {"
    sb ++= layers.toSeq.sortBy(_._1).map { case (l, (ms, n)) =>
      s"${Json.str(l)}: {\"self_ms\": ${Json.num(ms)}, \"spans\": $n}"
    }.mkString(", ")
    sb ++= "},\n\"spans\": [\n"
    sb ++= spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": ${Json.str(s.name)}, "start_us": ${(s.startNs - t0) / 1000}, "end_us": ${(s.endNs - t0) / 1000}}"""
    }.mkString(",\n")
    sb ++= "\n]}\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Mean-per-occurrence accumulators for the per-layer metrics. */
final class Acc {
  private val m = mutable.LinkedHashMap.empty[String, (Double, Int)]
  def add(name: String, v: Double): Unit = {
    val (s, n) = m.getOrElse(name, (0.0, 0))
    m(name) = (s + v, n + 1)
  }
  def mean(name: String): Double = m.get(name).map { case (s, n) => s / n }.getOrElse(0.0)
}

/** What Spark ran for one op. */
final class OpExec {
  var jobs = 0; var jobMs = 0L; var stages = 0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inBytes = 0L; var inRows = 0L; var shuffleWrite = 0L; var fetchWaitMs = 0L
  /** Per stage: (shuffle records read, task run times). */
  val stageTasks = mutable.Map.empty[Int, (Long, mutable.ArrayBuffer[Long])]

  /** max ÷ median task time in the stage that read the most shuffle
    * records — the as-of dedup's window stage in every read plan here,
    * since every input row crosses the key shuffle.
    */
  def dedupSkew: Option[Double] =
    stageTasks.values.filter(_._1 > 0).maxByOption(_._1).map { case (_, ts) =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/** Collects job, stage and task metrics. Ops run one at a time and the
  * runner drains Spark's listener bus after each, so everything
  * delivered since the last [[take]] belongs to the op that just ended.
  */
final class ExecListener extends SparkListener {
  private var cur = new OpExec
  private val jobStart = mutable.Map.empty[Int, Long]

  def take(): OpExec = synchronized { val o = cur; cur = new OpExec; o }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    cur.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => cur.jobMs += e.time - t0)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { cur.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val o = cur
      o.tasks += 1
      o.runMs += m.executorRunTime
      o.cpuNs += m.executorCpuTime
      o.gcMs += m.jvmGCTime
      o.inBytes += m.inputMetrics.bytesRead
      o.inRows += m.inputMetrics.recordsRead
      o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      o.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      val (recs, ts) = o.stageTasks.getOrElse(e.stageId,
        (0L, mutable.ArrayBuffer.empty[Long]))
      ts += m.executorRunTime
      o.stageTasks(e.stageId) = (recs + m.shuffleReadMetrics.recordsRead, ts)
    }
  }
}

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).toPlainString
  def any(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case xs: Seq[_] => xs.map(any).mkString("[", ", ", "]")
    case null => "null"
    case o => str(o.toString)
  }
  def obj(m: Iterable[(String, Any)]): String =
    m.map { case (k, v) => s"${str(k)}: ${any(v)}" }.mkString("{", ", ", "}")
}
