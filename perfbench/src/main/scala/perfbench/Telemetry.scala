package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark's own counters for one job group. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var executorCpuNs = 0L
  var taskGcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; executorCpuNs += o.executorCpuNs; taskGcMs += o.taskGcMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB; spillB += o.spillB
    this
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_s" -> taskRunMs / 1e3, "executor_cpu_s" -> executorCpuNs / 1e9,
    "task_gc_s" -> taskGcMs / 1e3, "shuffle_read_b" -> shuffleReadB,
    "shuffle_write_b" -> shuffleWriteB, "spill_b" -> spillB)
}

/** Attributes jobs, stages and task metrics to the job group that was set
  * when each job started. The benchmark names groups `<op>/<phase>`, so an
  * op's counters are the sum over the groups with its prefix. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Counters]()

  private def of(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val c = of(g)
    c.synchronized { c.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val c = of(Option(stageGroup.remove(i.stageId)).getOrElse("(none)"))
    val m = i.taskMetrics
    c.synchronized {
      c.stages += 1
      c.tasks += i.numTasks
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.executorCpuNs += m.executorCpuTime
        c.taskGcMs += m.jvmGCTime
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Take (and forget) every group whose name starts with `prefix`, keyed
    * by the rest of the name; the listener bus is drained first so the
    * last job's events are in. */
  def take(sc: SparkContext, prefix: String): Map[String, Counters] = {
    org.apache.spark.perfbench.BusAccess.drain(sc)
    byGroup.keySet.asScala.filter(_.startsWith(prefix)).toSeq.flatMap { k =>
      Option(byGroup.remove(k)).map(c => k.stripPrefix(prefix) -> c)
    }.toMap
  }
}

/** Process-level clocks read from the JVM. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  /** Heap in use after full collections, in MiB. Spark's ContextCleaner
    * drops unreferenced broadcast and shuffle state on its own thread only
    * after a collection has found them, so collect until the figure
    * settles (a single collection read 105 or 190 MiB across identical
    * runs). */
  def heapAfterGcMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var i = 0
    var settled = false
    while (!settled && i < 8) {
      Thread.sleep(250)
      val now = used()
      settled = math.abs(now - last) < 1.0
      last = now
      i += 1
    }
    last
  }

  /** Epoch ms at which this JVM started. */
  def startEpochMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Spans around calls into the program's layers, kept in memory and
  * written when the run ends. A disabled tracer runs the body only. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[A](op: Int, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def toRecords(originNs: Long): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_s" -> (s.startNs - originNs) / 1e9, "end_s" -> (s.endNs - originNs) / 1e9)
  }
}

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  def write(path: java.nio.file.Path, value: Any): Unit =
    java.nio.file.Files.writeString(path, mapper.writeValueAsString(value))

  def str(value: Any): String = mapper.writeValueAsString(value)
}
