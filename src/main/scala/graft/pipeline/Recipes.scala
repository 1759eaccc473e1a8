package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GmfColumns
import graft.operators._

/** Scene-level recipes — the reference's three user entry points (SURVEY.md
  * §3) as composable DataFrame → DataFrame functions. A user of the
  * reference maps 1:1:
  *
  *   sigma0_detrend(sigma0, inc)         → Recipes.detrend
  *   invert_from_model(inc, s0co, s0cr…) → Recipes.windRetrieval
  *   Gradients(detrended…).histogram     → Recipes.streaks
  *
  * Each takes a long-format scene (FIXTURES.md §1 schema) and can run in a
  * batch job or inside Streaming.sceneRecipe's foreachBatch unchanged.
  */
object Recipes {

  /** §3.2 — roughness image: GMF-detrended sigma0. */
  def detrend(scene: DataFrame, model: String = "gmf_cmod5n"): DataFrame = {
    require(model == "gmf_cmod5n", s"column-expression GMF registered for cmod5n only (got $model)")
    Detrend.sigma0Detrend(scene, GmfColumns.cmod5n)
  }

  /** §3.1 — dual-pol wind retrieval: ancillary encode → nesz flattening →
    * dsig → kernel inversion → dualpol blend → meteo-convention decode.
    * Expects sigma0 (copol), sigma0_cr, nesz, incidence, ancillary_u/v,
    * ground_heading keyed by (line, sample).
    */
  def windRetrieval(scene: DataFrame,
      coModel: String = "gmf_cmod5n", crModel: String = "gmf_s1_v2",
      dsigName: String = "gmf_s1_v2"): DataFrame = {
    val spark = scene.sparkSession
    val luts = Inversion.buildLuts(spark, Some(coModel), Some(crModel), highRes = false)
    val flat = WindUtils.neszFlattening(scene, noiseCol = "nesz")
    val withDsig = flat.withColumn("dsig_cr",
      WindUtils.getDsig(dsigName, col("incidence"), col("sigma0_cr"), col("nesz_flat")))
    // ancillary wind in antenna convention (E10)
    val spd = hypot(col("ancillary_u"), col("ancillary_v"))
    val dirSample = Directions.meteoToSample(
      pmod(lit(90.0) - degrees(atan2(col("ancillary_v"), col("ancillary_u"))) + lit(180.0), lit(360.0)),
      col("ground_heading"))
    val px = withDsig.select(
      col("line").cast("long").as("okey"), col("sample").cast("long").as("lnum"),
      col("incidence").as("inc"),
      Directions.toDb(col("sigma0")).as("s0co_db"),
      Directions.toDb(col("sigma0_cr")).as("s0cr_db"),
      col("dsig_cr"),
      Directions.ancillaryWindRe(spd, dirSample).as("anc_re"),
      Directions.ancillaryWindIm(spd, dirSample).as("anc_im"))
    val out = Inversion.dualpolBlend(Inversion.invert(px, luts).toDF())
    out.select(col("okey").as("line"), col("lnum").as("sample"),
      col("wspd"),
      degrees(col("dir_rad")).as("dir_antenna_deg"))
  }

  /** §3.3 — streak directions: gradients → per window, each downscale's
    * weighted histogram, their mean, circular smoothing and the peak, in one
    * kernel call per window ([[Gradients.streakPeaks]]). One row per window:
    * (win_line, win_sample, peak_bin, peak_weight, streak_dir_rad).
    */
  def streaks(grid: DataFrame, downscales: Seq[Int] = Seq(1, 2),
      windowSize: Int = 16): DataFrame =
    Gradients.streakPeaks(grid, downscales, windowSize)

  /** The training-data END PRODUCT: apply a curation decision, shuffle the
    * survivors deterministically for the epoch, pack them into fixed-size
    * context windows, and range-shard the window stream for parallel
    * readers. Composes the audited pieces — epochShuffle's two-phase
    * global rank, packSequences' two-phase prefix scan — so nothing here
    * funnels the corpus through one task, and reruns are bit-identical
    * (every ordering coin is an md5 of ids).
    *
    * Output rows: (shard, seq_id, seq_off, doc_id, n_tok, spans_boundary,
    * text), where shard = seq_id·nShards div nSeqs keeps each shard a
    * CONTIGUOUS window range (sequential reads per trainer).
    */
  def curateAndShard(docs: DataFrame, keep: DataFrame, seqLen: Int,
      nShards: Int, epoch: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val kept = docs.join(keep.filter(col("keep")).select(col(idCol)), idCol)
    val order = TextOps.epochShuffle(kept, epoch, idCol)
    val seq = kept.join(order, idCol)
      .select(col("shuffle_pos"), col(idCol), col(textCol))
    val packed = TextOps.packSequences(seq, seqLen, idCol = "shuffle_pos",
        textCol = textCol)
      .join(seq, "shuffle_pos")
    val totRow = packed
      .agg(((max(col("start_tok") + col("n_tok")) + (seqLen - 1)) / seqLen)
        .cast("long")).head()
    val nSeqs = if (totRow.isNullAt(0)) 1L else math.max(1L, totRow.getLong(0))
    packed.select(
      expr(s"(seq_id * $nShards) DIV ${nSeqs}L").as("shard"),
      col("seq_id"), col("seq_off"), col(idCol), col("n_tok"),
      col("spans_boundary"), col(textCol))
  }
}
