package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters of one span, filled by the listeners. */
final class Counters {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var taskMs = 0L
  @volatile var shuffleBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var bytesIn = 0L
  @volatile var planMs = 0L
  @volatile var queries = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; bytesIn += o.bytesIn; planMs += o.planMs; queries += o.queries
  }
}

final case class SpanRec(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    counters: Counters, extras: mutable.LinkedHashMap[String, Double])

/** In-memory span recorder for the traced run.
  *
  * A span is (name, start, end, parent, run id). Engine work is attributed
  * to the innermost open span: each span sets its own Spark job group, a
  * `SparkListener` maps jobs to spans through that group (jobs started
  * under a foreign group, e.g. broadcast or budget threads, fall to the
  * span open at the time), and a `QueryExecutionListener` adds each
  * query's planning phases. A span closes only after the listener bus has
  * drained, so its counters are complete. Spans are written at exit.
  */
final class Tracer(val runId: String, cores: Int) {
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack = List.empty[Int]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  @volatile private var current = -1
  private var session: SparkSession = _
  private val groupPrefix = "perfbench-span-"

  private def ctr(id: Int): Counters = counters.computeIfAbsent(id, _ => new Counters)

  /** Register the listeners on a freshly built session. */
  def attach(spark: SparkSession): Unit = {
    session = spark
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        val id = g.filter(_.startsWith(groupPrefix))
          .map(_.stripPrefix(groupPrefix).toInt).getOrElse(current)
        if (id >= 0) {
          ctr(id).jobs += 1
          e.stageIds.foreach(s => stageSpan.put(s, id))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val id = stageSpan.getOrDefault(e.stageId, current)
        val m = e.taskMetrics
        if (id >= 0 && m != null) {
          val c = ctr(id)
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.bytesIn += m.inputMetrics.bytesRead
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val id = current
        if (id >= 0) {
          val c = ctr(id)
          c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
          c.queries += 1
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  private def drain(): Unit =
    if (session != null && !session.sparkContext.isStopped)
      org.apache.spark.PerfbenchBus.drain(session.sparkContext)

  private def live = session != null && !session.sparkContext.isStopped

  def span[A](name: String)(body: => A): A = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    val rec = SpanRec(id, parent, name, System.nanoTime(), 0L, ctr(id), mutable.LinkedHashMap.empty)
    spans += rec
    drain()
    stack = id :: stack
    current = id
    if (live) session.sparkContext.setJobGroup(groupPrefix + id, name, interruptOnCancel = false)
    val out = try body finally {
      val end = System.nanoTime()
      drain()
      spans(id) = rec.copy(endNs = end)
      stack = stack.tail
      current = stack.headOption.getOrElse(-1)
      if (live) {
        if (current >= 0) session.sparkContext.setJobGroup(groupPrefix + current, "", false)
        else session.sparkContext.clearJobGroup()
      }
    }
    out
  }

  /** Attach a count or ratio to the most recent span called `name`. */
  def extra(name: String, key: String, v: Double): Unit =
    spans.reverseIterator.find(_.name == name).foreach(_.extras(key) = v)

  def seconds(name: String): Double =
    spans.reverseIterator.find(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).getOrElse(0.0)

  /** Counters of a span and all its descendants. */
  private def total(id: Int): Counters = {
    val c = new Counters
    c.add(spans(id).counters)
    spans.filter(_.parent == id).foreach(ch => c.add(total(ch.id)))
    c
  }

  /** The standard per-span metrics: wall, Σ task time, idle core time,
    * planning time, shuffle and spill bytes, jobs (latest span per name).
    */
  def metrics(name: String): Map[String, Double] =
    spans.reverseIterator.find(_.name == name).map { s =>
      val c = total(s.id)
      val wall = (s.endNs - s.startNs) / 1e9
      Map("s" -> wall, "task_s" -> c.taskMs / 1e3, "idle_core_s" -> (wall * cores - c.taskMs / 1e3),
        "plan_s" -> c.planMs / 1e3, "shuffle_bytes" -> c.shuffleBytes.toDouble,
        "spill_bytes" -> c.spillBytes.toDouble, "jobs" -> c.jobs.toDouble,
        "bytes_in" -> c.bytesIn.toDouble) ++ s.extras
    }.getOrElse(Map.empty)

  /** Write every span as one JSON line. */
  def write(f: java.io.File): Unit = {
    val lines = spans.map { s =>
      val m = metrics(s.name).toSeq.sortBy(_._1)
        .map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
      s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"metrics":$m}"""
    }
    java.nio.file.Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
