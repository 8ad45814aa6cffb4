package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call into a layer. `op` is the measured operation (query,
  * month or pass) the span belongs to; -1 for spans outside any op. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, var endNs: Long = 0L) {
  def durNs: Long = endNs - startNs
}

/** Engine work attributed to one span by the listener. */
final class Counts {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs, launchMs = 0L
  var shuffleWrite, spill, scanBytes = 0L
}

/** Spans around the benchmark's calls into graft, plus a SparkListener
  * that attributes jobs, stages and task metrics to the span that was
  * open when the job was submitted (through a SparkContext local
  * property). With `on = false` a span only runs its body, so untimed and
  * timed runs execute the same calls. Everything is kept in memory and
  * written out once at exit. */
final class Trace(sc: SparkContext, val on: Boolean) {
  import Trace.Prop

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var curOp = -1

  // listener state, written on the bus thread
  private val counts = mutable.Map.empty[Int, Counts]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobSpan = mutable.Map.empty[Int, Int]
  /** (span, start ms, end ms) of every finished job. */
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]

  private val listener = new SparkListener {
    private def spanOf(p: java.util.Properties): Option[Int] =
      Option(p).flatMap(x => Option(x.getProperty(Prop))).map(_.toInt)
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      spanOf(e.properties).foreach { s =>
        jobSpan(e.jobId) = s
        jobStart(e.jobId) = e.time
        counts.getOrElseUpdate(s, new Counts).jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      for (s <- jobSpan.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
        jobs += ((s, t0, e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        spanOf(e.properties).orElse(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
          stageSpan(e.stageInfo.stageId) = s
          counts.getOrElseUpdate(s, new Counts).stages += 1
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      stageSpan.get(e.stageId).filter(_ => m != null).foreach { s =>
        val c = counts.getOrElseUpdate(s, new Counts)
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        val info = e.taskInfo
        // time a task spent outside its own run: queueing and launch
        // (Spark's "scheduler delay") plus deserialising the task
        val outside = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        c.launchMs += math.max(0L, outside) + m.executorDeserializeTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.scanBytes += m.inputMetrics.bytesRead
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }
  if (on) sc.addSparkListener(listener)

  def beginOp(i: Int): Unit = curOp = i
  def endOp(): Unit = curOp = -1

  /** Times `f` as a span named `name`, child of the innermost open span. */
  def span[T](name: String)(f: => T): T = if (!on) f else {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), curOp,
      System.nanoTime())
    spans += s
    stack.push(s)
    sc.setLocalProperty(Prop, s.id.toString)
    try f finally {
      s.endNs = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Records an already-measured child of the innermost open span (used for
    * Catalyst's analysis phase, which runs inside the build call). */
  def child(name: String, startNs: Long, endNs: Long): Unit = if (on) {
    spans += Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), curOp,
      startNs, endNs)
  }

  def drain(): Unit = if (on) org.apache.spark.BenchBus.drain(sc)

  def countsOf(span: Int): Counts = synchronized(counts.getOrElse(span, new Counts))

  /** Self time of each span: its duration minus what its children cover. */
  def selfNs: Map[Int, Long] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Worst stage run under `spanIds`: max over median task run time, over
    * stages with at least two tasks (1.0 when no stage has two). */
  def taskSkew(spanIds: Set[Int]): Double = synchronized {
    val ratios = stageTaskMs.collect {
      case (st, ts) if ts.size >= 2 && stageSpan.get(st).exists(spanIds) =>
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).max(1L)
        sorted.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def write(path: String, runId: String): Unit = {
    val self = selfNs
    val sb = new StringBuilder
    spans.foreach { s =>
      val c = countsOf(s.id)
      sb ++= Json.obj(Seq("run" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> self(s.id), "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs, "shuffle_write" -> c.shuffleWrite,
        "spill" -> c.spill, "scan_bytes" -> c.scanBytes)) += '\n'
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Trace {
  val Prop = "graftbench.span"
  /** Span name for output checks inside an op; excluded from its time. */
  val Check = "check"
}

/** Minimal JSON writer for the harness's result and span records. */
object Json {
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => "\"" + esc(other.toString) + "\""
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => "\"" + esc(k) + "\":" + value(v) }.mkString("{", ",", "}")
}
