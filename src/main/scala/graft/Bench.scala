package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.scheduler._

import graft.core.{CacheLife, GraftSession, Tables}

/** Benchmark main — one JSON line with per-query wall seconds at the sf dir
  * given by SPARK_GRAFT_SF_DIR. Results are materialized through the noop
  * sink so Catalyst cannot prune the measured expressions (a bare count()
  * would skip every projected column). Every rep of every query runs under
  * its own job group, and the committed snapshot `bench_last.json` carries
  * each rep's Spark counters next to its seconds.
  */
object Bench {

  /** Cumulative JVM GC wall-time in ms across all collectors. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
  }

  /** Spark's counters for one job group: one rep of one query. */
  private final class Counters {
    var jobs, stages, tasks = 0
    var taskMs, taskGcMs, shuffleReadB, shuffleWriteB = 0L
  }

  /** Attributes jobs, stages and task metrics to the job group that was set
    * when each job started. Bench runs every rep of every query under its
    * own group, so a rep's eager construction jobs count with its execution
    * jobs, and nothing needs resetting between reps. Events arrive on the
    * listener bus's one thread; read the map only after `spark.stop()` has
    * drained the bus. */
  private final class GroupListener extends SparkListener {
    val byGroup = new ConcurrentHashMap[String, Counters]()
    private val stageGroup = new ConcurrentHashMap[Int, Counters]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          val c = byGroup.computeIfAbsent(g, _ => new Counters)
          c.jobs += 1
          e.stageIds.foreach(stageGroup.put(_, c))
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.remove(e.stageInfo.stageId)).foreach { c =>
        val i = e.stageInfo
        c.stages += 1
        c.tasks += i.numTasks
        Option(i.taskMetrics).foreach { m =>
          c.taskMs += m.executorRunTime
          c.taskGcMs += m.jvmGCTime
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        }
      }
  }

  /** One query's entry on the stdout line: its min seconds, its
    * `"name":secs` object form and its `id:centiseconds` csv form. */
  private[graft] final case class Entry(min: Double, obj: String, csv: String)

  /** The stdout line: `head`, then the "queries" object, the "qrest" csv
    * string and the "qtrunc" count, at most `budget` characters.
    *
    * Admission starts with every entry in the csv string. If even that
    * overruns, the fastest csv entries drop ("qtrunc" counts them). Then
    * the slowest entries move into the object while the line still fits.
    * Both parts render in `entries` order; sets are tracked by index so two
    * identically rendered entries never share one budget charge. Each step
    * is O(1): a part of k entries is as long as their sum + (k − 1) commas
    * + 2 delimiters, so only the final line is rendered.
    */
  private[graft] def stdoutLine(head: String, entries: IndexedSeq[Entry], budget: Int): String = {
    val fixed = s"""{$head,"queries":,"qrest":,"qtrunc":}""".length
    def width(n: Int, len: Int): Int = len + (n - 1).max(0) + 2
    var objN = 0; var objLen = 0
    var csvN = entries.length; var csvLen = entries.map(_.csv.length).sum
    def lineLen(oN: Int, oLen: Int, cN: Int, cLen: Int): Int =
      fixed + width(oN, oLen) + width(cN, cLen) + (entries.length - oN - cN).toString.length
    val inObj = Array.fill(entries.length)(false)
    val inCsv = Array.fill(entries.length)(true)
    val byMinDesc = entries.zipWithIndex.sortBy { case (e, i) => (-e.min, i) }
    byMinDesc.reverseIterator.takeWhile(_ => lineLen(objN, objLen, csvN, csvLen) > budget)
      .foreach { case (e, i) => inCsv(i) = false; csvN -= 1; csvLen -= e.csv.length }
    byMinDesc.foreach { case (e, i) =>
      if (inCsv(i) && lineLen(objN + 1, objLen + e.obj.length,
            csvN - 1, csvLen - e.csv.length) <= budget) {
        inObj(i) = true; objN += 1; objLen += e.obj.length
        inCsv(i) = false; csvN -= 1; csvLen -= e.csv.length
      }
    }
    val obj = entries.indices.filter(inObj).map(entries(_).obj).mkString("{", ",", "}")
    val csv = entries.indices.filter(inCsv).map(entries(_).csv).mkString("\"", ",", "\"")
    s"""{$head,"queries":$obj,"qrest":$csv,"qtrunc":${entries.length - objN - csvN}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate(appName = "graft-bench")
    val sc = spark.sparkContext
    val listener = new GroupListener
    sc.addSparkListener(listener)
    // optional comma-separated substring filter, e.g. SPARK_GRAFT_QUERIES=q40,q42
    val filter = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val selected = filter match {
      case None => all
      case Some(tokens) =>
        val sel = QueryFilter.selector(tokens, all.map(_._1))
        all.filter { case (name, _) => sel(name) }
    }
    // warm up codegen/JIT + parquet footer caches outside the measurements;
    // additionally warm the GMF/LUT model registry through a scene-family
    // query — its first-touch materialization used to be measured inside
    // q10's min (≈2.8 s of session setup, not query work)
    val warmups = selected.headOption.toSeq ++
      selected.find(_._1.startsWith("q10_")).toSeq
    warmups.foreach { case (name, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch {
        case NonFatal(e) => System.err.println(s"[bench] warm-up $name failed: ${e.getMessage}")
      }
    }
    CacheLife.releaseScoped(spark)
    // HOST CALIBRATION — fixed deterministic work, timed after warmup:
    // [0] a Spark aggregate over 200M longs on the requested cores, [1] a
    // single-thread ALU loop. Two sessions' artifacts divide these out: a
    // uniformly drifted query set WITH a drifted calibration is the host
    // (thermal / noisy neighbor), not the code.
    val calSpark = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id % 97)").head()
      (System.nanoTime() - t0) / 1e9
    }
    val calCpu = {
      val t0 = System.nanoTime()
      var acc = 0L; var i = 0L
      while (i < 200000000L) { acc = acc * 6364136223846793005L + i; i += 1 }
      if (acc == 42L) System.err.println("") // consume acc (defeat DCE)
      (System.nanoTime() - t0) / 1e9
    }
    // Per-query wall seconds as the MIN over `reps` executions. Single-run
    // timings on this shared host carry multi-second environmental spikes
    // (observed 8×+ on random queries across otherwise-identical runs, no
    // GC/Full-pause correlation); the min is the reproducible number and is
    // what BASELINE comparisons should read.
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(2).max(1)
    // compact stdout keys (sans-q, sans-suffix) must be unique — validated
    // UP FRONT so a collision fails in seconds, not after a ~30-minute
    // session has already done all its work (ADVICE r16)
    def csKey(n: String): String = n.takeWhile(_ != '_').stripPrefix("q")
    locally {
      val cs = selected.map { case (n, _) => csKey(n) }
      require(cs.distinct.size == cs.size,
        "compact stdout keys collide — rename the offending query: " +
          cs.diff(cs.distinct).distinct.mkString(","))
    }
    // cache lifecycle: after each query's reps, scoped temps drop and any
    // shared cache whose consumers have all run (or were never selected)
    // unpersists — the r11 drift root cause was 127 queries' worth of
    // accumulated storage degrading late queries 2-3× via eviction churn
    var completed = all.map(_._1).toSet -- selected.map(_._1).toSet
    def group(name: String, rep: Int): String = s"bench/$name/$rep"
    case class QRes(name: String, min: Double, ok: Boolean,
                    repSecs: Seq[Double], repGcMs: Seq[Long], winRep: Int,
                    cacheInMb: Long, nCached: Int, cacheOutMb: Long)
    val results = selected.map { case (name, fn) =>
      // storage going IN: what earlier queries left cached — eviction-churn
      // attribution needs the before picture, not just the after
      val (_, bytesIn) = CacheLife.storageStats(spark)
      val runs = (1 to reps).map { r =>
        if (r > 1) CacheLife.releaseScoped(spark)
        // every rep pays its own row counts: a memo warmed by an earlier
        // rep or query would bill its count job to whoever ran first
        Tables.clearRowCounts()
        sc.setJobGroup(group(name, r), name)
        val g0 = gcMillis()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch {
            case NonFatal(e) => System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          }
        // capture elapsed BEFORE the inter-rep cache release so unpersist
        // cost never bills to the measured query
        val elapsed = (System.nanoTime() - t0) / 1e9
        sc.clearJobGroup()
        (elapsed, ok, gcMillis() - g0)
      }
      completed += name
      CacheLife.afterQuery(spark, completed)
      // storage telemetry AFTER the release: what this query leaves cached
      // for later ones — makes any future in-session drift attributable
      // from the artifact alone
      val (nCached, bytesOut) = CacheLife.storageStats(spark)
      val secs = runs.map(_._1)
      QRes(name, secs.min, runs.forall(_._2), secs, runs.map(_._3),
        secs.indexOf(secs.min) + 1, bytesIn >> 20, nCached, bytesOut >> 20)
    }
    // The driver keeps a 2000-char stdout TAIL, which ALSO captures
    // sbt's trailing "[success] Total time..." line (~75 bytes) — round
    // 13's 2000-byte budget lost the line's head to that trailer. So the
    // whole line is budgeted at 1900 bytes (2000 − 75 − margin): summary
    // keys first, the complete per-query string next, 2-decimal
    // trailing-zero-stripped seconds, and — if the line would still
    // overrun — the per-query string drops its FASTEST entries first
    // (slow queries are the ones BASELINE comparison needs; "qtrunc" then
    // records how many sub-threshold entries were dropped so the
    // truncation is never silent). The committed bench_last.json snapshot
    // always carries every query at 3 decimals plus full rep/GC/cache and
    // counter telemetry.
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def fmt2(v: Double): String = {
      val s = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else s
    }
    def short(n: String): String = n.takeWhile(_ != '_')
    val qsFull = results.map(r => "\"" + r.name + "\":" + fmt(r.min))
      .mkString("{", ",", "}")
    // full per-query cache telemetry goes to the committed snapshot; the
    // stdout line carries only the peak (staying inside the tail window)
    val cacheFull = results.map { r =>
      "\"" + r.name + "\":[" + r.nCached + "," + r.cacheOutMb + "]"
    }.mkString("{", ",", "}")
    val cachePeak = if (results.isEmpty) """"cache_peak":{}""" else {
      val peak = results.maxBy(_.cacheOutMb)
      s""""cache_peak":{"at":"${short(peak.name)}","rdds":${peak.nCached},"mb":${peak.cacheOutMb}}"""
    }
    val failed = results.collect { case r if !r.ok => "\"" + r.name + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_.min).sum
    // host telemetry in the cal block: requested cores, logical core count
    // and 1-min load average, so a local[32]-on-fewer-cores
    // oversubscription or a busy host is attributable from the artifact alone
    val physCores = Runtime.getRuntime.availableProcessors()
    val load1m = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val cal = s""""cal":[${fmt2(calSpark)},${fmt2(calCpu)},${GraftSession.cpus},""" +
      s"""$physCores,${fmt2(load1m)}]"""
    // STDOUT LINE LAYOUT (the driver keeps a 2000-char stdout tail, parses
    // the JSON line found in it, and sbt appends a ~75-byte trailer; the
    // whole line budgets at 1900 — under the derived 1915 for margin):
    //  1. fixed head — metric/value/unit/cal/failed/sf;
    //  2. "queries" — the driver-contract JSON OBJECT mapping FULL query
    //     names to seconds, filled SLOWEST-FIRST with as many entries as
    //     the budget allows. The full-name map for all 231 queries is
    //     ~5.6 KB and a 2000-char tail cannot carry it, so the object
    //     carries the slow tier the comparator needs most and "qrest"
    //     (next) completes the line;
    //  3. "qrest" — every query NOT in the object, as the compact csv
    //     string "id:centiseconds" (id = query number sans 'q'/suffix,
    //     collision-checked up front), so the LINE still reports all
    //     queries: "qtrunc" counts queries missing from BOTH (expected 0;
    //     fastest-first drops only if the line genuinely cannot fit).
    val head =
      s""""metric":"total","value":${fmt2(total)},"unit":"sec",$cal,"failed":$failed,"sf":"${new java.io.File(sfDir).getName}""""
    val line = stdoutLine(head, results.map(r => Entry(r.min,
      "\"" + r.name + "\":" + fmt2(r.min),
      csKey(r.name) + ":" + Math.round(r.min * 100))).toIndexedSeq, 1900)
    // stopping drains the listener bus, so every rep's counters are in
    spark.stop()
    // per-query rep telemetry for the committed snapshot: every rep's wall
    // seconds, GC-time delta (ms) and Spark counters (jobs, stages, tasks,
    // executor task s, task GC s, shuffle read/write MiB), which rep won,
    // and cache-in MB. Jobs per query can differ between reps, so every
    // rep is kept, not only the winner.
    def perRep[A](name: String)(f: Counters => A): String =
      (1 to reps).map(r => Option(listener.byGroup.get(group(name, r)))
        .getOrElse(new Counters)).map(f).mkString("[", ",", "]")
    def mib(b: Long): String = fmt2(b / 1048576.0)
    val repsFull = results.map { r =>
      "\"" + r.name + "\":{\"s\":[" + r.repSecs.map(fmt2).mkString(",") +
        "],\"gc\":[" + r.repGcMs.mkString(",") + "],\"win\":" + r.winRep +
        ",\"in_mb\":" + r.cacheInMb +
        ",\"jobs\":" + perRep(r.name)(_.jobs) +
        ",\"stages\":" + perRep(r.name)(_.stages) +
        ",\"tasks\":" + perRep(r.name)(_.tasks) +
        ",\"task_s\":" + perRep(r.name)(c => fmt2(c.taskMs / 1e3)) +
        ",\"task_gc_s\":" + perRep(r.name)(c => fmt2(c.taskGcMs / 1e3)) +
        ",\"shr_mb\":" + perRep(r.name)(c => mib(c.shuffleReadB)) +
        ",\"shw_mb\":" + perRep(r.name)(c => mib(c.shuffleWriteB)) + "}"
    }.mkString("{", ",", "}")
    val snapshot =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$cal,"queries":$qsFull,"cache_mb":$cacheFull,$cachePeak,"reps":$repsFull,"failed":$failed,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_last.json"), snapshot + "\n")
    catch { case NonFatal(e) => System.err.println(s"[bench] snapshot write failed: $e") }
    // last line of stdout, after spark shutdown, so nothing prints below it
    println(line)
  }
}
