package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftBenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Counts one span's Spark jobs, tasks and task metrics. */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var spillBytes = 0L
  var worstSkew = 1.0

  def +=(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
    spillBytes += o.spillBytes
    worstSkew = math.max(worstSkew, o.worstSkew)
  }

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble,
    "cpu_s" -> cpuNs / 1e9, "input_bytes" -> inputBytes.toDouble,
    "input_records" -> inputRecords.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "shuffle_write_records" -> shuffleWriteRecords.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "output_bytes" -> outputBytes.toDouble,
    "output_records" -> outputRecords.toDouble,
    "spill_bytes" -> spillBytes.toDouble, "task_skew" -> worstSkew)
}

/** One timed region around a call into a layer of the engine. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      queryId: Int, unit: Int, startNs: Long, var endNs: Long,
                      counts: Counts, extra: mutable.Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the engine, with per-span
  * Spark counts from a listener that attributes each stage to the span
  * active (as a local property) when its job was submitted. Disabled,
  * it runs the bodies and records nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val Prop = "graftbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private var stack: List[Span] = Nil
  private val t0 = System.nanoTime()
  /** Switched on around untraced units of a traced run. */
  var paused = false
  /** Index of the timed unit running, -1 outside the timed part. */
  var unit: Int = -1

  private val listener = new SparkListener {
    private val stageSpan = mutable.Map.empty[Int, Int]
    private val stageDurations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    private def countsOf(spanId: Int): Option[Counts] =
      Tracer.this.synchronized(byId.get(spanId).map(_.counts))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .flatMap(s => countsOf(s.toInt)).foreach(_.jobs += 1)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .foreach(s => stageSpan(e.stageInfo.stageId) = s.toInt)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      stageSpan.get(e.stageId).flatMap(countsOf).foreach { c =>
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.outputRecords += m.outputMetrics.recordsWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        stageDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val id = e.stageInfo.stageId
      for (d <- stageDurations.remove(id) if d.length >= 2;
           c <- stageSpan.get(id).flatMap(countsOf)) {
        val med = Stats.median(d.map(_.toDouble).toSeq)
        if (med > 0) c.worstSkew = math.max(c.worstSkew, d.max / med)
      }
      stageSpan.remove(id)
    }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Run `body` inside a span of `layer`; nested calls become children. */
  def span[T](name: String, layer: String, queryId: Int = -1)(body: => T): T = {
    if (!enabled || paused) return body
    val parent = stack.headOption
    val s = synchronized {
      val sp = Span(spans.length, name, layer, parent.map(_.id).getOrElse(-1),
        if (queryId >= 0) queryId else parent.map(_.queryId).getOrElse(-1),
        unit, System.nanoTime(), 0L, new Counts, mutable.Map.empty)
      spans += sp
      byId(sp.id) = sp
      sp
    }
    stack = s :: stack
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait until the listener has seen every finished task, so span
    * counts are complete; call once, before reading them. */
  def drain(): Unit = if (enabled) GraftBenchBus.drain(sc)

  /** Attach a benchmark-side count to the innermost open span. */
  def note(key: String, v: Double): Unit =
    if (enabled && !paused) stack.headOption.foreach(s => s.extra(key) = s.extra.getOrElse(key, 0.0) + v)

  /** Spans of one layer with their children's counts rolled up (children
    * attribute their own stages, so a parent sums its subtree). */
  def rolledUp(s: Span): Counts = {
    val c = new Counts
    c += s.counts
    spans.filter(_.parent == s.id).foreach(ch => c += rolledUp(ch))
    c
  }

  def toJson: String = {
    val items = spans.map { s =>
      val counts = (s.counts.toMap ++ s.extra).toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""parent":${s.parent},"query_id":${s.queryId},"unit":${s.unit},""" +
        s""""start_ms":${Json.num((s.startNs - t0) / 1e6)},""" +
        s""""end_ms":${Json.num((s.endNs - t0) / 1e6)},"counts":{$counts}}"""
    }
    items.mkString("[\n", ",\n", "\n]")
  }
}

object Tracer {
  /** Total JVM garbage-collection time so far, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
}

/** Minimal JSON writing for the result file and the span dump. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
