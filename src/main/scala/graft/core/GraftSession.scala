package graft.core

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with scale-oriented defaults.
  *
  * Defaults are chosen for the local[32] harness but mirror what we would set
  * on a 1000-executor cluster: AQE on (runtime shuffle coalescing + skew-join
  * splitting), explicit shuffle parallelism, and broadcast joins for dimension
  * tables. See SURVEY.md §4.3.
  */
object GraftSession {

  def builder(master: String = "local[*]", appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE re-plan the subtrees UNDER persisted frames (partition
      // counts from size estimates at any scale, not the static shuffle
      // constant). Set HERE — the shared builder — so bench, verify and
      // the plan-audit specs all plan identically (r19 verdict: it was
      // bench-only, so the measured plan was not the verified plan)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // events.parquet carries TIMESTAMP(NANOS); read as ns-longs (exact)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // deliberately NOT forcing Kryo: instantiating Kryo on Java 17 needs
      // the --add-opens flags only spark-submit's launcher injects (bare
      // `java -cp` mains die registering java.nio.HeapByteBuffer), and the
      // only off-Tungsten payloads here are once-per-job MB-scale LUT
      // broadcasts where the serializer choice is immaterial
      // SQL-callable GMFs as native codegen expressions (graft.sql)
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.ui.enabled", "false")

  def getOrCreate(master: String = "local[*]", appName: String = "graft"): SparkSession = {
    val spark = builder(master, appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Small planning helpers shared by CPU-bound operators. */
object Plans {

  /** Repartition `df` up to at least `minPar` output partitions — used ahead
    * of CPU-bound per-row kernels that would otherwise inherit a single file
    * split's parallelism.
    *
    * The no-op-at-scale gate reads the ACTUAL planned split count of the
    * plan's scan leaves: a parquet scan's splits
    * (`FileSourceScanExec.execute()` builds the FileScanRDD on the driver —
    * planning work only, no job runs) and a DataSource V2 scan's input
    * partitions (`BatchScanExec.inputPartitions`, e.g. the owi source's
    * pixel spans). A non-bucketed scan's `outputPartitioning` is
    * `UnknownPartitioning(0)` regardless of how many splits it carries
    * (ADVICE r19), so gating on it made every call site repartition
    * unconditionally — a pure regression on real multi-split inputs. With
    * the split-count gate, an input that already fans out to `minPar` map
    * tasks (any real multi-file table at scale, any owi scene, which plans
    * at least `defaultParallelism` spans) passes through unchanged; only
    * genuinely split-starved inputs (the local single-row-group bench
    * files) pay the round-robin spread. The count is the largest over the
    * scan leaves. Frames with no scan leaves (cached/in-memory inputs) keep
    * the old partitioning-based gate.
    */
  def ensureMinPartitions(df: DataFrame, minPar: Int): DataFrame = {
    val planned =
      try {
        // the PRE-adaptive plan: the AQE wrapper reports
        // UnknownPartitioning(0) before execution even over a subtree that
        // ends in a full-width shuffle, which double-spread e.g. the
        // inversion kernel's already-deduped input (one redundant exchange)
        val sp = df.queryExecution.sparkPlan
        val outParts = sp.outputPartitioning.numPartitions
        if (outParts > 0) outParts
        else {
          val scanParts = sp.collectLeaves().collect {
            case s: org.apache.spark.sql.execution.FileSourceScanExec =>
              s.execute().getNumPartitions
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.inputPartitions.size
          }
          if (scanParts.nonEmpty) scanParts.max else 0
        }
      } catch { case NonFatal(e) =>
        // a plan that cannot report its splits is treated as split-starved:
        // spreading an input is always correct, only maybe redundant
        log.warn(s"ensureMinPartitions: split count unavailable ($e); repartitioning to $minPar")
        0
      }
    if (planned < minPar) df.repartition(minPar) else df
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(Plans.getClass)
}

/** Loader for the driver-provided TPC-H-ish parquet tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(path(sfDir, name))

  /** [[load]] spread to at least the session's default parallelism — for
    * queries whose dominant cost is map-side expression work straight off
    * the scan (wide DECIMAL aggregates, per-row kernels): a single-row-
    * group parquet file is ONE split, pinning that work to one core.
    * No-op when the input already carries enough splits (real clusters,
    * multi-file tables), so the at-scale plan is unchanged. */
  def loadPar(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Plans.ensureMinPartitions(load(spark, sfDir, name),
      spark.sparkContext.defaultParallelism)

  /** `events` with `ts` normalized to epoch-nanosecond longs, whatever the
    * parquet physical type. Older testdata generations wrote TIMESTAMP(NANOS)
    * (read as ns-longs under nanosAsLong); current ones write timestamp[us],
    * which surfaces as TIMESTAMP_NTZ. Downstream event queries do exact
    * integer bucket math on ns, so both shapes funnel through here. The NTZ
    * cast is wall-clock-preserving under the UTC session timeZone set by every
    * graft session builder, matching DuckDB's epoch_ns on the naive timestamp.
    */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val df = load(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case LongType => df
      case _ =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
    }
  }

  private val counts = scala.collection.concurrent.TrieMap.empty[String, (String, Long)]

  /** Fingerprint of a table path's file listing (name, length, mtime per
    * file) via the Hadoop FileSystem API — a listing RPC, orders of
    * magnitude cheaper than the count job it guards, and valid for any
    * FS scheme (local/HDFS/S3). */
  private def fingerprint(spark: SparkSession, p: String): String = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hp)) return "<absent>"
    val sb = new StringBuilder
    val it = fs.listFiles(hp, true)
    while (it.hasNext) {
      val s = it.next()
      sb.append(s.getPath.getName).append(':').append(s.getLen)
        .append(':').append(s.getModificationTime).append(';')
    }
    sb.result()
  }

  /** Memoized table row count — operators that size themselves from the
    * corpus cardinality (e.g. Similarity.autoPlanes) share one count job
    * per (sfDir, table) per JVM instead of re-scanning per call. The memo
    * is keyed on the file listing's fingerprint, so a table re-materialized
    * at the same path in-session (bench harness regenerating data) is
    * re-counted instead of served a stale cardinality.
    */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val p = path(sfDir, name)
    val fp = fingerprint(spark, p)
    counts.get(p) match {
      case Some((f, c)) if f == fp => c
      case _ =>
        val c = load(spark, sfDir, name).count()
        counts.put(p, (fp, c))
        c
    }
  }

  /** Register every table as a temp view named after itself; idempotent. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
