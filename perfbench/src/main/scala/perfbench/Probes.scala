package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._

/** Work counters for one span: what the scheduler did while it was open. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** Attributes every job, stage and task to the span that started it.
  *
  * The harness tags the driver thread with a span id (a local property,
  * which Spark copies onto each job it submits, broadcast and subquery
  * threads included) before each layer call. Listener events arrive late
  * on the listener bus, so the counts are read only after
  * [[org.apache.spark.PerfbenchBus.drain]].
  */
final class LayerListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, String]
  val bySpan: mutable.HashMap[String, Counts] = mutable.HashMap.empty

  private def counts(span: String): Counts = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(LayerListener.Key)))
      .getOrElse("untagged")
    counts(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(stageSpan.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageSpan.getOrElse(e.stageId, "untagged"))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }

  /** Sum of the counts of every span whose id ends in `/layer`. */
  def layer(layer: String): Counts = synchronized {
    val total = new Counts
    bySpan.foreach { case (k, c) => if (k.endsWith("/" + layer)) total.add(c) }
    total
  }
}

object LayerListener {
  val Key = "perfbench.span"
}

/** Counts whole-stage codegen plans that failed to compile or grew past
  * the JIT limit and so run interpreted. Spark reports both only as a log
  * line, so the counter is a log appender on the loggers that write them.
  */
final class CodegenFallbacks
    extends AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong(0L)

  override def append(e: LogEvent): Unit = {
    val m = e.getMessage.getFormattedMessage
    if (m.contains("Whole-stage codegen disabled") ||
        m.contains("Found too long generated codes") ||
        m.contains("falling back to interpreter mode")) count.incrementAndGet(): Unit
  }
}

object CodegenFallbacks {
  private val loggers = Seq(
    "org.apache.spark.sql.execution.WholeStageCodegenExec",
    "org.apache.spark.sql.catalyst.expressions.CodeGeneratorWithInterpretedFallback")

  /** Attach the counter; call after the session is up, because Spark
    * (re)configures logging while its context starts. */
  def install(counter: CodegenFallbacks): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    if (!counter.isStarted) counter.start()
    loggers.foreach { name =>
      val lc = Option(cfg.getLoggers.get(name)).getOrElse {
        val created = new LoggerConfig(name, Level.INFO, true)
        cfg.addLogger(name, created)
        created
      }
      lc.setLevel(Level.INFO)
      if (!lc.getAppenders.containsKey(counter.getName)) lc.addAppender(counter, Level.INFO, null)
    }
    ctx.updateLoggers()
  }
}

/** One traced interval. Spans of one query execution share `exec`. */
final case class Span(id: Long, parent: Long, exec: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span log, written out once when the run ends. With `tag`
  * set, jobs submitted inside a span carry its id for the
  * [[LayerListener]]. */
final class Spans(sc: org.apache.spark.SparkContext, tag: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L

  /** Time `body` as span `name` under `parent` (0 for a root span). */
  def apply[T](exec: Long, parent: Long, name: String)(body: Long => T): T = {
    val id = nextId
    nextId += 1
    val prev = sc.getLocalProperty(LayerListener.Key)
    if (tag) sc.setLocalProperty(LayerListener.Key, s"$exec/$name")
    val t0 = System.nanoTime()
    try body(id)
    finally {
      buf += Span(id, parent, exec, name, t0, System.nanoTime())
      if (tag) sc.setLocalProperty(LayerListener.Key, prev)
    }
  }

  def size: Int = buf.size

  /** Span durations in seconds by name, for spans recorded from index `i`. */
  def secondsFrom(i: Int): Map[String, Double] =
    buf.view.drop(i).map(s => s.name -> (s.endNs - s.startNs) / 1e9).toMap

  def all: Seq[Span] = buf.toSeq

  def seconds(name: String): Double =
    buf.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
}

object Jvm {
  import scala.jdk.CollectionConverters._

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(-1.0)
    }
}

/** Minimal JSON writer for the harness's flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case null => "null"
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
