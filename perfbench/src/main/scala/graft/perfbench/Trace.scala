package graft.perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Runs a block under a name of the form `<layer>.<call>`. */
trait Spans {
  def apply[A](name: String)(body: => A): A
}

object NoSpans extends Spans {
  def apply[A](name: String)(body: => A): A = body
}

/** Always-on, cheap observer of the whole run: the wall interval of every
  * root SQL execution (the per-query latencies of a workload whose
  * queries run inside one program call) and the peak storage memory of
  * cached RDD blocks. */
final class Observer extends SparkListener {
  private val started = mutable.Map.empty[Long, Long]
  private val done = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blocks = mutable.Map.empty[String, Long]
  private var cached = 0L
  private var peak = 0L

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart
          if s.rootExecutionId.forall(_ == s.executionId) =>
        started(s.executionId) = s.time
      case x: SparkListenerSQLExecutionEnd =>
        started.remove(x.executionId).foreach(t0 => done += ((t0, x.time)))
      case _ =>
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      cached += info.memSize - blocks.getOrElse(key, 0L)
      if (info.memSize > 0) blocks(key) = info.memSize else blocks.remove(key)
      peak = math.max(peak, cached)
    }
  }

  /** Per epoch-millisecond window, the durations (ms) of the root
    * executions that started and ended inside it, in start order. */
  def executionMs(windows: Seq[(Long, Long)]): Seq[Seq[Double]] = synchronized {
    windows.map { case (w0, w1) =>
      done.toSeq.filter { case (t0, t1) => t0 >= w0 && t1 <= w1 }
        .sortBy(_._1).map { case (t0, t1) => (t1 - t0).toDouble }
    }
  }

  def peakCachedBytes: Long = synchronized(peak)
}

/** Counters of one layer, summed over its traced spans. */
final class LayerStats {
  var wallNs, jobs, tasks, cpuNs, runMs, durMs, gcMs, shuffleBytes, planMs,
    inputBytes = 0L
}

/** The traced run's instrument: tags every call with its span name as the
  * Spark job group, times it, and attributes jobs, task metrics and query
  * planning phases to the span's layer through a SparkListener. A log4j
  * appender counts the warnings Spark only logs. Spans stay in memory
  * until [[spansJson]] is written out at the end of the run. */
final class Tracer(spark: SparkSession) extends Spans {
  private val sc = spark.sparkContext
  private val GroupKey = "spark.jobGroup.id"
  private val layers = mutable.Map.empty[String, LayerStats]
  private val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val execLayer = mutable.Map.empty[Long, String]
  private val origin = System.nanoTime()
  private var leafScans, cachedScans = 0L
  private val warnings = mutable.LinkedHashMap(
    "warn_large_task" -> 0L, "warn_recache" -> 0L,
    "warn_single_partition_window" -> 0L)
  @volatile private var active = false

  private def stats(layer: String): LayerStats =
    layers.getOrElseUpdate(layer, new LayerStats)

  private def layerOf(group: String): Option[String] =
    Option(group).filter(_.contains('.')).map(_.takeWhile(_ != '.'))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      layerOf(Option(e.properties).map(_.getProperty(GroupKey)).orNull).foreach { l =>
        stats(l).jobs += 1
        e.stageIds.foreach(stageLayer(_) = l)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageLayer.get(e.stageId).foreach { l =>
        val s = stats(l)
        s.tasks += 1
        s.durMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          s.cpuNs += m.executorCpuTime
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          s.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          layerOf(s.jobGroupId.orNull).foreach { l =>
            execLayer(s.executionId) = l
            countScans(s.sparkPlanInfo)
          }
        case x: SparkListenerSQLExecutionEnd =>
          execLayer.remove(x.executionId).foreach(l => stats(l).planMs += planMs(x))
        case _ =>
      }
    }
  }

  /** In-memory scans against all leaf scans of an executed plan; the
    * plan under an in-memory scan is the cached one and is not re-run. */
  private def countScans(p: SparkPlanInfo): Unit =
    if (p.nodeName.startsWith("InMemoryTableScan")) { leafScans += 1; cachedScans += 1 }
    else if (p.children.isEmpty) leafScans += 1
    else p.children.foreach(countScans)

  /** Parsing, analysis, optimization and planning time of the execution's
    * query, from its QueryPlanningTracker (the event field is
    * package-private to Spark SQL, so it is read reflectively). */
  private def planMs(x: SparkListenerSQLExecutionEnd): Long =
    try {
      val qe = x.getClass.getMethod("qe").invoke(x).asInstanceOf[QueryExecution]
      if (qe == null) 0L else qe.tracker.phases.values.map(_.durationMs).sum
    } catch { case _: ReflectiveOperationException => 0L }

  private val appender = new AbstractAppender("perfbench-warnings", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = if (active) {
      val msg = e.getMessage.getFormattedMessage
      val key =
        if (msg.contains("task of very large size")) "warn_large_task"
        else if (msg.contains("already cached data")) "warn_recache"
        else if (msg.contains("No Partition Defined for Window")) "warn_single_partition_window"
        else null
      if (key != null) Tracer.this.synchronized { warnings(key) += 1 }
    }
  }

  private def logContext = LogManager.getContext(false).asInstanceOf[LoggerContext]

  /** Attach the listener and the appender: jobs, tasks, plans and
    * warnings are attributed only between [[start]] and [[stop]]. */
  def start(): Unit = {
    sc.addSparkListener(listener)
    appender.start()
    logContext.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    logContext.updateLoggers()
    active = true
  }

  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    active = false
    sc.removeSparkListener(listener)
    logContext.getConfiguration.getRootLogger.removeAppender(appender.getName)
    logContext.updateLoggers()
  }

  def apply[A](name: String)(body: => A): A = {
    val prev = sc.getLocalProperty(GroupKey)
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      synchronized {
        layerOf(name).foreach(stats(_).wallNs += dt)
        spans += ((name, t0 - origin, dt))
      }
      if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev)
    }
  }

  /** `<layer>.<counter>` values for the given layers (zeros where a layer
    * ran no span), then the tables-wide input volume and the scan mix. */
  def layerMetrics(names: Seq[String]): Seq[(String, Double)] = synchronized {
    val mb = 1024.0 * 1024.0
    names.flatMap { l =>
      val s = layers.getOrElse(l, new LayerStats)
      Seq("wall_ms" -> s.wallNs / 1e6, "jobs" -> s.jobs.toDouble,
        "tasks" -> s.tasks.toDouble, "task_cpu_ms" -> s.cpuNs / 1e6,
        "task_wait_ms" -> (s.durMs - s.runMs).toDouble, "gc_ms" -> s.gcMs.toDouble,
        "shuffle_mb" -> s.shuffleBytes / mb, "plan_ms" -> s.planMs.toDouble)
        .map { case (k, v) => s"$l.$k" -> v }
    } ++ Seq(
      "tables.input_mb" -> layers.values.map(_.inputBytes).sum / mb,
      "shared.cached_scan_frac" ->
        (if (leafScans == 0) 0.0 else cachedScans.toDouble / leafScans)) ++
      warnings.toSeq.map { case (k, v) => k -> v.toDouble }
  }

  def spansJson: String = synchronized {
    Json.arr(spans.toSeq.map { case (n, t0, dt) =>
      Json.obj("name" -> Json.str(n), "start_ms" -> Json.num(t0 / 1e6),
        "wall_ms" -> Json.num(dt / 1e6))
    })
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def nums(xs: Seq[Double]): String = arr(xs.map(num))
  def longs(m: Map[String, Long]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }: _*)
}
