package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** sigma0 detrending (reference detrend.py:9-68, D1 in SURVEY.md §2.5).
  *
  * Semantics preserved from the reference:
  *  1. the reference incidence profile is taken from the FIRST line only
  *     (`inc_angle.isel(line=0)`, detrend.py:55) — the frame's minimum
  *     line, whatever its value; incidence varies across samples, so one
  *     GMF value per sample at fixed wind (10 m/s, 45°);
  *  2. the profile is normalized by its NaN-skipping mean (detrend.py:63) —
  *     NaNs are converted to nulls first so Spark's `avg` matches `nanmean`;
  *     a NaN incidence on the first line yields a NaN ratio for its sample;
  *  3. every pixel divides by the per-sample ratio (detrend.py:64); samples
  *     absent from the first line have no ratio and drop out (inner join).
  *
  * Contract: one incidence per (first line, sample). Duplicate pixels on
  * the first line must agree on incidence — true of an owi raster and of
  * any scene whose incidence is a function of the sample.
  *
  * Scale: the side table is built in one pass, O(samples-per-line) rows
  * (KBs even for a 100k-wide scene): one `groupBy(sample)` takes each
  * sample's first line and the incidence on it; one single-partition pass
  * over that per-sample table keeps the samples on the frame's first line,
  * evaluates the GMF and takes the mean; one broadcast equi-join applies
  * the ratio. The raster is read twice; only its per-sample partial
  * aggregates cross a shuffle.
  */
object Detrend {

  def nanToNull(c: Column): Column = when(isnan(c), lit(null)).otherwise(c)

  /** @param scene long-format pixel frame with line/sample/incidence/sigma0
    * @param gmf   GMF as Column expression (inc, wspd, phi) => sigma0
    */
  def sigma0Detrend(
      scene: DataFrame,
      gmf: (Column, Column, Column) => Column,
      wspd0: Double = 10.0,
      phi0: Double = 45.0): DataFrame = {

    val perSample = scene.groupBy(col("sample")).agg(
      min(col("line")).as("l_first"),
      min_by(col("incidence"), col("line")).as("inc_first"))

    // the whole per-sample table in one partition: both windows below share
    // its single exchange
    val all = Window.partitionBy()
    val ratio = perSample
      .withColumn("l0", min(col("l_first")).over(all))
      .filter(col("l_first") === col("l0"))
      .select(col("sample").as("r_sample"),
        gmf(col("inc_first"), lit(wspd0), lit(phi0)).as("gmf_profile"))
      .select(col("r_sample"),
        (col("gmf_profile") / avg(nanToNull(col("gmf_profile"))).over(all)).as("ratio"))

    scene
      .join(broadcast(ratio), col("sample") === col("r_sample"))
      .drop("r_sample")
      .withColumn("sigma0_detrend", col("sigma0") / col("ratio"))
  }
}
