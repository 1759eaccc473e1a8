package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark harness: one JVM, one client in a closed loop.
  *
  * usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <out-dir> <cores> <run-start-epoch-ms> <lut-dir>
  *
  * Set-up starts the session, generates the inputs, fills the process-wide
  * memos (the broadcast LUT, the row-count memo) and runs the workload's
  * untimed warm-up, its first cold pass. `setup_s` runs from the start of
  * the run (`run-start-epoch-ms`, taken by `run.py` before it generates
  * any input) to the first timed op. The timed phase then runs a fixed
  * number of whole rounds, as many as take about `seconds` at the
  * workload's nominal round time; with trace 1, a traced round bracketed
  * by two plain ones.
  * Everything measured goes to `<out-dir>/artifact.json`; `run.py` turns
  * it into metrics.
  */
object Main {
  def session(cores: Int, out: Path, listener: GroupListener): SparkSession = {
    val spark = graft.core.GraftSession.builder(s"local[$cores]", "perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // the bench profile of graft.Bench: small splits for small files
      .config("spark.sql.files.maxPartitionBytes", (4L * 1024 * 1024).toString)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.ui.showConsoleProgress", "false")
      // a small status store: trimmed at irregular points, a large one made
      // the heap after GC bimodal (105 or 158 MiB) across identical runs
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(listener)
    spark
  }

  /** Host CPU ticks from /proc/stat: (steal, busy, total), where busy is
    * everything but idle, iowait and steal. */
  private def procStat(): (Long, Long, Long) = {
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail
      .take(8).map(_.toLong)
    val steal = f.lift(7).getOrElse(0L)
    (steal, f.sum - f(3) - f(4) - steal, f.sum)
  }

  /** Share of the CPU time the host owed while we wanted to run that it
    * gave to other tenants: steal / (busy + steal) between two readings. */
  private def stealShare(a: (Long, Long, Long), b: (Long, Long, Long)): Double = {
    val steal = b._1 - a._1
    val wanted = steal + (b._2 - a._2)
    if (wanted > 0) steal.toDouble / wanted else 0.0
  }

  private def loadAvg1(): Double =
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble

  def main(argv: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, outS, coresS, runStartS, lutS) = argv
    val originNs = System.nanoTime()
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val out = Paths.get(outS).toAbsolutePath
    val cores = coresS.toInt
    Files.createDirectories(out)
    val host0 = procStat(); val load0 = loadAvg1()
    val listener = new GroupListener
    val tracer = new Tracer(enabled = trace)
    val wl = Workload(wlName)
    val artifact = mutable.LinkedHashMap[String, Any](
      "workload" -> wlName, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "host_cpus" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    var opSeq = 0
    def nextOp(): Int = { opSeq += 1; opSeq }
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]

    // ---------------------------------------------------------- set-up
    val tSession = System.nanoTime()
    val spark = session(cores, out, listener)
    val ctx = new Ctx(spark, tracer, out.resolve("inputs"), out, Paths.get(lutS).toAbsolutePath, seed)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    def sc = spark.sparkContext

    /** Run one op, timed, and return its record: wall, process CPU and GC,
      * the Spark counters of each of its job groups and their sum. */
    def measure(kind: String, k: Int)(body: Int => Map[String, Any]): Map[String, Any] = {
      val op = nextOp()
      val c0 = Proc.cpuNs(); val g0 = Proc.gcMs(); val h0 = procStat()
      val t0 = System.nanoTime()
      var ok = true
      val extra =
        try tracer.span(op, "op")(body(op))
        catch {
          case NonFatal(e) =>
            ok = false
            failures += Map("op" -> op, "name" -> wl.round(k),
              "check" -> s"exception:${e.getClass.getSimpleName}",
              "message" -> String.valueOf(e.getMessage).take(300))
            Map.empty[String, Any]
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val steal = stealShare(h0, procStat())
      val cpu = (Proc.cpuNs() - c0) / 1e9
      val gc = (Proc.gcMs() - g0) / 1e3
      sc.clearJobGroup()
      val r0 = System.nanoTime()
      tracer.span(op, "core.release")(wl.afterOp(ctx, k, op))
      val releaseS = (System.nanoTime() - r0) / 1e9
      val groups = listener.take(sc, s"$op/")
      val total = groups.values.foldLeft(new Counters)(_ add _)
      extra ++ total.toMap ++ Map("op" -> op, "kind" -> kind, "name" -> wl.round(k), "ok" -> ok,
        "wall_s" -> wall, "steal_share" -> steal, "cpu_s" -> cpu, "gc_s" -> gc, "release_s" -> releaseS,
        "eager_jobs" -> groups.get("build").map(_.jobs).getOrElse(0L),
        "cache_mb" -> graft.core.CacheLife.storageStats(spark)._2 / 1048576.0,
        "groups" -> groups.map { case (g, c) => g -> c.toMap })
    }

    val prep = wl.prepare(ctx)
    val tw = System.nanoTime()
    val warmupOps = wl.warmup(ctx, () => nextOp())
    val warmupS = (System.nanoTime() - tw) / 1e9
    listener.take(sc, "")
    val runStartMs = runStartS.toLong
    artifact("setup") = prep ++ Map(
      "setup_s" -> (System.currentTimeMillis() - runStartMs) / 1e3,
      "jvm_start_s" -> (Proc.startEpochMs() - runStartMs) / 1e3,
      "session_s" -> sessionS, "warmup_s" -> warmupS, "warmup_ops" -> warmupOps,
      // host steal from JVM start; the inputs made before it take a second or two
      "steal_share" -> stealShare(host0, procStat()))
    artifact("session_config") = spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("spark.app.")).toMap

    // ----------------------------------------------------- timed phase
    /** Whole rounds, a fixed number so every run of a workload does the
      * same work. Untraced: as many as take about `budgetS` at the
      * workload's nominal round time, at least one. Traced: a plain round,
      * a traced round (each op with query-level spans, then, where the
      * workload has them, layer by layer), and a plain round again; the
      * plain rounds bracket the traced one, so JIT warm-up drift cancels
      * out of the overhead, and CacheLife's shared caches are released
      * before each round as in every pass. */
    def phase(label: String, budgetS: Double, traced: Boolean): Map[String, Any] = {
      val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
      val kinds =
        if (traced) Seq("plain", "traced", "plain")
        else Seq.fill(math.max(1, math.round(budgetS / wl.nominalRoundS).toInt))("plain")
      val cpu0 = Proc.cpuNs(); val gc0 = Proc.gcMs(); val h0 = procStat()
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      kinds.foreach { kind =>
        wl.beforeRound(ctx)
        wl.round.indices.foreach { k =>
          if (kind == "plain") ops += measure("plain", k)(op => wl.run(ctx, k, op))
          else {
            ops += measure("traced", k)(op => wl.runTraced(ctx, k, op))
            if (wl.hasLayers) ops += measure("layers", k)(op => wl.runLayers(ctx, k, op))
          }
        }
      }
      val wallS = elapsed
      val h1 = procStat()
      Map("label" -> label, "traced" -> traced, "rounds" -> kinds, "wall_s" -> wallS,
        "steal_share" -> stealShare(h0, h1),
        "cpu_s" -> (Proc.cpuNs() - cpu0) / 1e9, "gc_s" -> (Proc.gcMs() - gc0) / 1e3,
        "steal_ticks" -> (h1._1 - h0._1), "host_ticks" -> (h1._3 - h0._3),
        "ops" -> ops.toSeq)
    }

    val phases = Seq(
      if (!trace) phase("timed", seconds, traced = false)
      else phase("traced", seconds, traced = true))
    artifact("phases") = phases
    val th = System.nanoTime()
    artifact("heap_mb") = Proc.heapAfterGcMb()
    artifact("heap_gc_s") = (System.nanoTime() - th) / 1e9
    artifact("failures") = failures.toSeq

    // ------------------------------------------------------ wrap-up
    val tf = System.nanoTime()
    artifact("finish") = wl.finish(ctx)
    artifact("finish_s") = (System.nanoTime() - tf) / 1e9
    if (trace) {
      val lines = tracer.toRecords(originNs).map(Json.str)
      Files.write(out.resolve("spans.jsonl"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      artifact("span_count") = lines.length
    }
    val host1 = procStat()
    artifact("host") = Map("steal_ticks" -> (host1._1 - host0._1),
      "host_ticks" -> (host1._3 - host0._3), "steal_share" -> stealShare(host0, host1),
      "load1_start" -> load0, "load1_end" -> loadAvg1())
    artifact("process_s") = (System.currentTimeMillis() - Proc.startEpochMs()) / 1e3
    Json.write(out.resolve("artifact.json"), artifact.toMap)
    spark.stop()
  }
}
