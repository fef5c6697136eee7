package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one job group (one span). */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskFailures = 0
  var taskMs = 0L        // executorRunTime summed over tasks
  var cpuNs = 0L
  var maxTaskMs = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var planningMs = ArrayBuffer.empty[Double]

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; taskMs += o.taskMs; cpuNs += o.cpuNs
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    inputBytes += o.inputBytes; inputRows += o.inputRows
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; planningMs ++= o.planningMs
  }
}

/** Collects per-job-group task metrics from the listener bus, and the
  * planning phases of every executed query. Registered once per session. */
final class SparkLedger extends SparkListener with QueryExecutionListener {
  private val groupOfStage = new ConcurrentHashMap[Int, String]()
  val groups = new ConcurrentHashMap[String, GroupStats]()
  private val planning = new ConcurrentLinkedQueue[java.lang.Double]()

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    val s = stats(g)
    s.synchronized { s.jobs += 1 }
    e.stageInfos.foreach(si => groupOfStage.put(si.stageId, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stats(groupOfStage.getOrDefault(e.stageInfo.stageId, "-"))
    s.synchronized { s.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stats(groupOfStage.getOrDefault(e.stageId, "-"))
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (e.reason != TaskSuccess) s.taskFailures += 1
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.maxTaskMs = math.max(s.maxTaskMs, m.executorRunTime)
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planning.add(qe.tracker.phases.values.map(p => p.durationMs.toDouble).sum)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Moves the planning samples seen since the last drain into `g`. */
  def drainPlanning(g: String): Unit = {
    val s = stats(g)
    var v = planning.poll()
    while (v != null) { s.synchronized { s.planningMs += v.doubleValue }; v = planning.poll() }
  }
}

/** One timed call into a layer of the program. `pass` is 0 for set-up,
  * output-check and chained-fit calls, which sit outside the measured
  * passes, and -1 for the traced run's untraced reference pass. */
final case class Call(id: Int, parent: Int, name: String, layer: String, pass: Int,
    startNs: Long, endNs: Long, ok: Boolean) {
  def wall: Double = (endNs - startNs) / 1e9
}

/** Times calls from outside the program. Untraced, it records walls only.
  * Traced, every call also runs under its own job group, so the
  * [[SparkLedger]] attributes jobs, stages and task metrics to it, and the
  * spans keep their parent. Spans stay in memory until the run ends. */
final class Recorder(val traced: Boolean) {
  private val MB = 1048576.0
  val calls = ArrayBuffer.empty[Call]
  var ledger: Option[SparkLedger] = None
  private var session: Option[SparkSession] = None
  private var stack: List[Int] = Nil
  var pass = 0
  /** Off for the traced run's reference pass, which measures the tracing
    * overhead: its calls get no job group and do not wait on the bus. */
  var spans: Boolean = traced

  def attach(spark: SparkSession): Unit = {
    session = Some(spark)
    if (traced) {
      val l = new SparkLedger
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      ledger = Some(l)
    }
  }

  /** Runs `body` as one call. A call that throws is recorded as failed and
    * yields None; the run then counts it in `failed` and reads incorrect. */
  def call[T](name: String, layer: String)(body: => T): Option[T] = {
    val id = calls.size + 1
    val parent = stack.headOption.getOrElse(0)
    val sc = session.map(_.sparkContext)
    if (spans) sc.foreach(_.setJobGroup(s"span-$id", name, interruptOnCancel = false))
    stack = id :: stack
    val t0 = System.nanoTime()
    val result = try Some(body) catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: call $name failed: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
    val t1 = System.nanoTime()
    stack = stack.tail
    if (spans) {
      sc.foreach { c =>
        org.apache.spark.perfbench.BusAccess.drain(c)
        ledger.foreach(_.drainPlanning(s"span-$id"))
        stack.headOption match {
          case Some(p) => c.setJobGroup(s"span-$p", "", interruptOnCancel = false)
          case None => c.clearJobGroup()
        }
      }
    }
    calls += Call(id, parent, name, layer, pass, t0, t1, result.isDefined)
    result
  }

  /** One span of the trace: the call, and in traced runs the Spark work of
    * its job group and those of its children. */
  def row(c: Call): Map[String, Any] = {
    val base = Map("id" -> c.id, "parent" -> c.parent, "name" -> c.name, "layer" -> c.layer,
      "pass" -> c.pass, "start_ns" -> c.startNs, "end_ns" -> c.endNs, "wall_s" -> c.wall, "ok" -> c.ok)
    if (!traced) base
    else {
      val s = statsOf(c)
      base ++ Map("jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
        "task_failures" -> s.taskFailures, "task_s" -> s.taskMs / 1e3, "cpu_s" -> s.cpuNs / 1e9,
        "max_task_s" -> s.maxTaskMs / 1e3, "input_mb" -> s.inputBytes / MB,
        "input_rows" -> s.inputRows, "shuffle_write_mb" -> s.shuffleWriteBytes / MB,
        "shuffle_read_mb" -> s.shuffleReadBytes / MB, "spill_mb" -> s.spillBytes / MB,
        "planning_ms" -> s.planningMs.toSeq)
    }
  }

  /** Spark work of a span and all its descendants. */
  def statsOf(c: Call): GroupStats = {
    val out = new GroupStats
    ledger.foreach { l =>
      def walk(id: Int): Unit = {
        Option(l.groups.get(s"span-$id")).foreach(out.add)
        calls.iterator.filter(_.parent == id).foreach(ch => walk(ch.id))
      }
      walk(c.id)
    }
    out
  }
}

object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  def startMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  def dirMb(dir: java.io.File): Double = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L) else f.length
    size(dir) / 1048576.0
  }
}
