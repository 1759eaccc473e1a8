package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Directions, Gradients, Inversion, WindUtils}
import graft.pipeline.Recipes

/** What one op needs: the live session, the tracer and the directories of
  * the run's inputs and outputs. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val inputs: Path, val out: Path, val luts: Path, val seed: Long) {
  def group(op: Int, phase: String): Unit =
    spark.sparkContext.setJobGroup(s"$op/$phase", phase, interruptOnCancel = false)
}

/** One workload: a round of ops repeated in a closed loop. */
trait Workload {
  /** Op names of one round; every run attempts whole rounds. */
  def round: IndexedSeq[String]
  /** Wall seconds one round takes on a 4-vCPU host; sets how many rounds
    * a run of a given length attempts. */
  def nominalRoundS: Double
  /** Generate this round's inputs and fill the process-wide memos. */
  def prepare(ctx: Ctx): Map[String, Any]
  /** The DataFrame of op `k` and the sink it is written to. */
  def build(ctx: Ctx, k: Int, op: Int): DataFrame
  def sink(ctx: Ctx, k: Int, op: Int, df: DataFrame): Unit
  /** Facts about op `k` for the run record (pixels, query name). */
  def facts(ctx: Ctx, k: Int): Map[String, Any]

  /** Run op `k` of the round as op number `op`: build, then write. */
  def run(ctx: Ctx, k: Int, op: Int): Map[String, Any] = {
    ctx.group(op, "build")
    val df = build(ctx, k, op)
    ctx.group(op, "exec")
    sink(ctx, k, op, df)
    facts(ctx, k)
  }

  /** The same op with a span each around building its DataFrame,
    * planning it, and running it to its sink. The sink plans once more, so
    * the traced op's overhead over the plain one is about one planning
    * pass; the exchanges are counted in the plan as planned. */
  def runTraced(ctx: Ctx, k: Int, op: Int): Map[String, Any] = {
    val t = ctx.tracer
    ctx.group(op, "build")
    val df = t.span(op, "queries.build")(build(ctx, k, op))
    ctx.group(op, "plan")
    val plan = t.span(op, "queries.plan")(df.queryExecution.executedPlan)
    ctx.group(op, "exec")
    t.span(op, "queries.exec")(sink(ctx, k, op, df))
    facts(ctx, k) ++ Map("exchanges" -> Workload.exchanges(plan))
  }

  /** Layer by layer: each layer's public function materialised from a
    * persisted output of the layer below, one span each. Only for
    * workloads whose layers are not reachable through their queries alone. */
  def runLayers(ctx: Ctx, k: Int, op: Int): Map[String, Any] =
    throw new UnsupportedOperationException("no layer-by-layer form")
  def hasLayers: Boolean = false

  /** Bookkeeping after an op, outside its timing (cache releases). */
  def afterOp(ctx: Ctx, k: Int, op: Int): Unit =
    graft.core.CacheLife.releaseScoped(ctx.spark)
  /** Called before the first op of every round. */
  def beforeRound(ctx: Ctx): Unit = ()
  /** The untimed first cold pass that ends set-up; may write outputs for
    * the checkers. Returns each op's name and wall time. */
  def warmup(ctx: Ctx, op: () => Int): Seq[Map[String, Any]]
  /** After the timed phase: leave what the output checkers need. */
  def finish(ctx: Ctx): Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String): Workload = name match {
    case "scene-wind" => new SceneWind
    case "scene-streaks" => new SceneStreaks
    case "query-mix" => new QueryMix
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def persisted(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    p.count()
    p
  }

  /** Exchanges in a physical plan (for an adaptive plan: the initial one,
    * as planned); reused exchanges count zero. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
}

import Workload.{dirBytes, persisted}

/** Scenes are a pool read round-robin; each op's product lands in its own
  * directory so every op's output is checked. */
abstract class SceneWorkload extends Workload {
  def PoolSize: Int
  /** Untimed rounds at the end of set-up: the cold pass and JIT warm-up. */
  def WarmupRounds: Int
  protected var scenes: IndexedSeq[Scenes.Scene] = IndexedSeq.empty
  def round: IndexedSeq[String] = (0 until PoolSize).map(k => s"scene-$k")
  protected def make(ctx: Ctx, k: Int): Scenes.Scene
  protected val opScene = mutable.LinkedHashMap.empty[Int, Int]

  protected def read(ctx: Ctx, k: Int): DataFrame =
    ctx.spark.read.format("owi").load(scenes(k).nc.toString)

  protected def product(ctx: Ctx, op: Int): Path = ctx.out.resolve("products").resolve(s"op-$op")

  def sink(ctx: Ctx, k: Int, op: Int, df: DataFrame): Unit = {
    opScene(op) = k
    df.write.mode("overwrite").parquet(product(ctx, op).toString)
  }

  def facts(ctx: Ctx, k: Int): Map[String, Any] =
    Map("px" -> scenes(k).nLines.toLong * scenes(k).nSamples)

  def prepare(ctx: Ctx): Map[String, Any] = {
    scenes = (0 until PoolSize).map(k => make(ctx, k))
    Map("scene_bytes" -> scenes.map(s => Files.size(s.nc)).sum / PoolSize)
  }

  def warmup(ctx: Ctx, op: () => Int): Seq[Map[String, Any]] =
    for (_ <- 1 to WarmupRounds; k <- round.indices) yield {
      val o = op()
      val t0 = System.nanoTime()
      ctx.group(o, "warmup")
      sink(ctx, k, o, build(ctx, k, o))
      afterOp(ctx, k, o)
      Map("name" -> round(k), "wall_s" -> (System.nanoTime() - t0) / 1e9)
    }

  override def finish(ctx: Ctx): Map[String, Any] = {
    val m = opScene.toSeq.map { case (op, k) => Map("op" -> op, "scene" -> k) }
    Json.write(ctx.out.resolve("products").resolve("ops.json"), Map(
      "scenes_dir" -> ctx.inputs.toString, "luts_dir" -> ctx.luts.toString, "ops" -> m))
    Map.empty
  }
}

/** read scene → Recipes.windRetrieval → L2 Parquet product. */
final class SceneWind extends SceneWorkload {
  val PoolSize = 2
  val WarmupRounds = 2
  val nominalRoundS = 2.8
  protected def make(ctx: Ctx, k: Int): Scenes.Scene = Scenes.windScene(ctx.seed, k, ctx.inputs)

  override def prepare(ctx: Ctx): Map[String, Any] = {
    val base = super.prepare(ctx)
    val t0 = System.nanoTime()
    val luts = Inversion.buildLuts(ctx.spark, Some("gmf_cmod5n"), Some("gmf_s1_v2"), highRes = false)
    val lutS = (System.nanoTime() - t0) / 1e9
    base ++ Map("lut_build_s" -> lutS,
      "lut_mb" -> (Scenes.lutMb(luts.value.co) + Scenes.lutMb(luts.value.cr)))
  }

  def build(ctx: Ctx, k: Int, op: Int): DataFrame = Recipes.windRetrieval(read(ctx, k))

  override def hasLayers: Boolean = true
  override def runLayers(ctx: Ctx, k: Int, op: Int): Map[String, Any] = {
    opScene(op) = k
    val out = product(ctx, op)
    val sc = scenes(k)
    val t = ctx.tracer
    val spark = ctx.spark
    // the layers of Recipes.windRetrieval, each materialised on its own
    // from the persisted output of the one below; the glue between them
    // mirrors the recipe line for line
    ctx.group(op, "sources.read")
    val scene = t.span(op, "sources.read")(persisted(read(ctx, k)))
    ctx.group(op, "operators.nesz_flat")
    val withDsig = t.span(op, "operators.nesz_flat")(persisted(
      WindUtils.neszFlattening(scene, noiseCol = "nesz").withColumn("dsig_cr",
        WindUtils.getDsig("gmf_s1_v2", col("incidence"), col("sigma0_cr"), col("nesz_flat")))))
    val luts = Inversion.buildLuts(spark, Some("gmf_cmod5n"), Some("gmf_s1_v2"), highRes = false)
    ctx.group(op, "pipeline.encode")
    val pxDf = t.span(op, "pipeline.encode") {
      val spd = hypot(col("ancillary_u"), col("ancillary_v"))
      val dirSample = Directions.meteoToSample(
        pmod(lit(90.0) - degrees(atan2(col("ancillary_v"), col("ancillary_u"))) + lit(180.0), lit(360.0)),
        col("ground_heading"))
      persisted(withDsig.select(
        col("line").cast("long").as("okey"), col("sample").cast("long").as("lnum"),
        col("incidence").as("inc"),
        Directions.toDb(col("sigma0")).as("s0co_db"),
        Directions.toDb(col("sigma0_cr")).as("s0cr_db"),
        col("dsig_cr"),
        Directions.ancillaryWindRe(spd, dirSample).as("anc_re"),
        Directions.ancillaryWindIm(spd, dirSample).as("anc_im")))
    }
    ctx.group(op, "operators.inversion")
    val inv = t.span(op, "operators.inversion")(persisted(
      Inversion.dualpolBlend(Inversion.invert(pxDf, luts).toDF())))
    ctx.group(op, "sink.write")
    t.span(op, "sink.write") {
      inv.select(col("okey").as("line"), col("lnum").as("sample"), col("wspd"),
        degrees(col("dir_rad")).as("dir_antenna_deg"))
        .write.mode("overwrite").parquet(out.toString)
    }
    Seq(scene, withDsig, pxDf, inv).foreach(_.unpersist(blocking = true))
    facts(ctx, k) ++ Map("read_bytes" -> Files.size(sc.nc), "output_bytes" -> dirBytes(out))
  }

  override def finish(ctx: Ctx): Map[String, Any] = {
    Scenes.exportLuts(ctx.spark, ctx.luts)
    super.finish(ctx)
  }
}

/** read scene → Recipes.detrend → Recipes.streaks → Parquet product. */
final class SceneStreaks extends SceneWorkload {
  val PoolSize = 1
  val WarmupRounds = 3
  val nominalRoundS = 2.0
  protected def make(ctx: Ctx, k: Int): Scenes.Scene = Scenes.streakScene(ctx.seed, k, ctx.inputs)

  private def grid(det: DataFrame): DataFrame =
    det.select(col("line"), col("sample"), col("sigma0_detrend").as("v"))

  def build(ctx: Ctx, k: Int, op: Int): DataFrame =
    Recipes.streaks(grid(Recipes.detrend(read(ctx, k))), Scenes.StreakDownscales,
      Scenes.StreakWindow)

  override def hasLayers: Boolean = true
  override def runLayers(ctx: Ctx, k: Int, op: Int): Map[String, Any] = {
    opScene(op) = k
    val out = product(ctx, op)
    val sc = scenes(k)
    val t = ctx.tracer
    ctx.group(op, "sources.read")
    val scene = t.span(op, "sources.read")(persisted(read(ctx, k)))
    ctx.group(op, "operators.detrend")
    val g = t.span(op, "operators.detrend")(persisted(grid(Recipes.detrend(scene))))
    // Scharr alone, for its own layer figure; the histogram below runs it
    // again inside Gradients.multiscale, as the recipe does
    ctx.group(op, "operators.scharr")
    t.span(op, "operators.scharr")(persisted(Gradients.scharrG2(g))).unpersist(blocking = true)
    ctx.group(op, "operators.histogram")
    val hist = t.span(op, "operators.histogram")(persisted(
      Gradients.multiscale(g, Scenes.StreakDownscales, Seq(Scenes.StreakWindow))))
    ctx.group(op, "operators.smooth_peak")
    val peaks = t.span(op, "operators.smooth_peak") {
      // Recipes.streaks after its histogram: mean over configs, smoothing, peak
      val smoothed = hist.groupBy(col("win_line"), col("win_sample"), col("bin"))
        .agg(avg(col("weight")).as("weight"))
      persisted(Gradients.peak(Gradients.circSmooth(smoothed)))
    }
    ctx.group(op, "sink.write")
    t.span(op, "sink.write")(peaks.write.mode("overwrite").parquet(out.toString))
    Seq(scene, g, hist, peaks).foreach(_.unpersist(blocking = true))
    facts(ctx, k) ++ Map("read_bytes" -> Files.size(sc.nc), "output_bytes" -> dirBytes(out))
  }
}

/** One sf0.01-shaped query per op, built, planned and run to the noop sink,
  * going round a fixed ordered list. Queries in `QueryMix.FixedInput` read
  * tables that do not depend on the seed (see there). */
final class QueryMix extends Workload {
  val round: IndexedSeq[String] = QueryMix.Queries
  val nominalRoundS = 10.0

  private val fns = graft.SparkEntry.queries
  private var completed = Set.empty[String]
  private val outRows = mutable.LinkedHashMap.empty[String, Long]
  val passCacheMb = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Tables come from gen_tables.py, run before the JVM starts. */
  private def sfDir(ctx: Ctx, k: Int = -1): String =
    ctx.out.resolve(if (k >= 0 && QueryMix.FixedInput(round(k))) "tables-fixed" else "tables").toString

  def prepare(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    // the row-count memo the listed queries size themselves from
    Seq("documents", "embeddings").foreach(n => graft.core.Tables.rowCount(spark, sfDir(ctx), n))
    val countS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    // the LUT q16 broadcasts
    val luts = Inversion.buildLuts(spark, Some("gmf_cmod5n"), Some("gmf_s1_v2"), highRes = false)
    Map("row_counts_s" -> countS, "lut_build_s" -> (System.nanoTime() - t1) / 1e9,
      "lut_mb" -> (Scenes.lutMb(luts.value.co) + Scenes.lutMb(luts.value.cr)))
  }

  override def beforeRound(ctx: Ctx): Unit = {
    val before = graft.core.CacheLife.storageStats(ctx.spark)._2 / 1048576.0
    // every pass starts with the shared caches released, as graft.Bench
    // starts a session
    graft.core.CacheLife.afterQuery(ctx.spark, fns.keySet)
    completed = fns.keySet -- round
    val after = graft.core.CacheLife.storageStats(ctx.spark)._2 / 1048576.0
    passCacheMb += Map("before_mb" -> before, "after_release_mb" -> after)
  }

  override def afterOp(ctx: Ctx, k: Int, op: Int): Unit = {
    completed += round(k)
    graft.core.CacheLife.afterQuery(ctx.spark, completed)
  }

  def build(ctx: Ctx, k: Int, op: Int): DataFrame = fns(round(k))(ctx.spark, sfDir(ctx, k))

  def sink(ctx: Ctx, k: Int, op: Int, df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def facts(ctx: Ctx, k: Int): Map[String, Any] =
    Map("query" -> round(k), "output_rows" -> outRows.getOrElse(round(k), 0L))

  /** The untimed pass writes every output for the DuckDB and property
    * checks. */
  def warmup(ctx: Ctx, op: () => Int): Seq[Map[String, Any]] = {
    beforeRound(ctx)
    round.indices.map { k =>
      val name = round(k)
      val o = op()
      val t0 = System.nanoTime()
      ctx.group(o, "verify")
      val path = ctx.out.resolve("outputs").resolve(name).toString
      build(ctx, k, o).write.mode("overwrite").parquet(path)
      outRows(name) = ctx.spark.read.parquet(path).count()
      afterOp(ctx, k, o)
      Map("name" -> name, "wall_s" -> (System.nanoTime() - t0) / 1e9)
    }
  }

  override def finish(ctx: Ctx): Map[String, Any] = {
    val oracles = graft.SparkEntry.oracleSql.filter { case (n, _) => round.contains(n) }
    Json.write(ctx.out.resolve("outputs").resolve("oracles.json"),
      Map("oracles" -> oracles, "rows" -> outRows, "fixed_input" -> QueryMix.FixedInput.toSeq))
    Map("pass_cache_mb" -> passCacheMb.toSeq, "output_rows" -> outRows)
  }
}

object QueryMix {
  val Queries: IndexedSeq[String] = IndexedSeq(
    // queries that run jobs while their DataFrame is being built
    "q89_pagerank", "q140_mmr_diversify",
    // the global / keyed twins of one statistic
    "q196_binary_auc", "q202_group_auc",
    // SAR operators on the small lineitem-derived scene
    "q16_invert_dualpol", "q42_grad_hist")

  /** q140's output differs from its DuckDB oracle in the sixth decimal on
    * some inputs and not on others. It reads the embeddings of one fixed
    * seed (`gen_tables.FIXED_SEED`) on which it differs every time, so its
    * ops fail the same way in every run; `run.py` counts them as failed. */
  val FixedInput: Set[String] = Set("q140_mmr_diversify")
}
