package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GmfColumns
import graft.operators.Detrend

/** `Detrend.sigma0Detrend` builds its per-sample side table in one pass. It
  * must keep the semantics of the branch-per-table formulation it replaced,
  * which stays here as the reference.
  */
class DetrendSpec extends SparkSpec {
  import spark.implicits._

  /** The previous formulation: the first line from a global `min(line)`
    * broadcast back, the profile from a `distinct` over that line, the mean
    * from a 1-row aggregate crossJoined onto the profile. */
  private def reference(scene: DataFrame, gmf: (Column, Column, Column) => Column,
      wspd0: Double = 10.0, phi0: Double = 45.0): DataFrame = {
    val firstLine = scene.agg(min(col("line")).as("l0"))
    val profile = scene
      .join(broadcast(firstLine), col("line") === col("l0"))
      .select(col("sample"), col("incidence"))
      .distinct()
      .select(col("sample"),
        gmf(col("incidence"), lit(wspd0), lit(phi0)).as("gmf_profile"))
    val mean = profile.agg(avg(Detrend.nanToNull(col("gmf_profile"))).as("gmf_mean"))
    val ratio = profile
      .crossJoin(broadcast(mean))
      .select(col("sample").as("r_sample"), (col("gmf_profile") / col("gmf_mean")).as("ratio"))
    scene
      .join(broadcast(ratio), col("sample") === col("r_sample"))
      .drop("r_sample")
      .withColumn("sigma0_detrend", col("sigma0") / col("ratio"))
  }

  /** nL × nS pixels with a unique `id`; incidence rises across samples and
    * falls slightly down the lines, so the first line's incidence is no
    * sample's minimum. */
  private def raster(nL: Int, nS: Int, idBase: Long = 0L): DataFrame =
    spark.range(nL.toLong * nS).select(
      (col("id") + idBase).as("id"),
      (col("id") / nS).cast("int").as("line"),
      (col("id") % nS).cast("int").as("sample"))
      .withColumn("incidence",
        lit(18.0) + lit(0.45) * col("sample") - lit(0.013) * col("line"))
      .withColumn("sigma0",
        lit(0.02) + lit(0.004) * sin(col("line") * 0.7 + col("sample") * 0.31))

  /** Same rows as the reference; doubles equal within 1e-12 relative, NaN
    * matching NaN (the mean's summation order may differ). */
  private def assertMatchesReference(scene: DataFrame): Unit = {
    val got = Detrend.sigma0Detrend(scene, GmfColumns.cmod5n)
    val want = reference(scene, GmfColumns.cmod5n)
    assert(got.columns.toSeq == want.columns.toSeq)
    val g = got.orderBy("id").collect()
    val w = want.orderBy("id").collect()
    assert(g.length == w.length, s"${g.length} rows vs the reference's ${w.length}")
    assert(g.nonEmpty)
    def close(a: Double, b: Double): Boolean =
      (a.isNaN && b.isNaN) || a == b ||
        math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))
    g.zip(w).foreach { case (a, b) =>
      got.columns.indices.foreach { i =>
        (a.get(i), b.get(i)) match {
          case (x: Double, y: Double) =>
            assert(close(x, y), s"${got.columns(i)}: $x vs $y in $a")
          case (x, y) => assert(x == y, s"${got.columns(i)}: $x vs $y in $a")
        }
      }
    }
  }

  test("matches the reference on a multi-partition raster") {
    val scene = raster(24, 40).repartition(7)
    assert(scene.rdd.getNumPartitions == 7)
    assertMatchesReference(scene)
  }

  test("matches the reference with NaN incidence on the first line") {
    val scene = raster(12, 20).withColumn("incidence",
      when(col("line") === 0 && col("sample").isin(3, 11), lit(Double.NaN))
        .when(col("line") === 5 && col("sample") === 4, lit(Double.NaN))
        .otherwise(col("incidence")))
    assertMatchesReference(scene)
  }

  test("matches the reference on a frame filtered to line >= k") {
    assertMatchesReference(raster(16, 20).filter(col("line") >= 5).repartition(3))
  }

  test("matches the reference when samples are absent from the first line") {
    assertMatchesReference(
      raster(12, 20).filter(!(col("line") === 0 && col("sample") % 4 === 1)))
  }

  test("matches the reference with duplicate (line, sample) rows of equal incidence") {
    val base = raster(10, 16)
    val dups = raster(10, 16, idBase = 1000000L).filter(col("line") <= 1)
      .withColumn("sigma0", col("sigma0") * 1.5)
    assertMatchesReference(base.union(dups).repartition(5))
  }

  test("semantics: first line is the frame's minimum, NaN propagates, absent samples drop") {
    // GMF = incidence: the ratio is the first line's incidence over its
    // NaN-skipping mean. Lines 3..5; the first line (3) has incidence 10,
    // NaN and 30 on samples 0..2 and lacks sample 3; other lines carry a
    // different incidence that must not be used.
    val rows = for (l <- 3 to 5; s <- 0 to 3 if !(l == 3 && s == 3)) yield {
      val inc =
        if (l > 3) 5.0
        else s match { case 0 => 10.0; case 1 => Double.NaN; case _ => 30.0 }
      (l, s, inc, 1.0)
    }
    val scene = rows.toDF("line", "sample", "incidence", "sigma0")
    val out = Detrend.sigma0Detrend(scene, (inc, _, _) => inc)
      .select("line", "sample", "sigma0_detrend").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // mean over the non-NaN profile = 20: ratios 0.5, NaN, 1.5
    assert(out.keySet == (for (l <- 3 to 5; s <- 0 to 2) yield (l, s)).toSet,
      s"sample 3 is absent from the first line and must drop: ${out.keySet}")
    (3 to 5).foreach { l =>
      assert(math.abs(out((l, 0)) - 2.0) < 1e-15)
      assert(out((l, 1)).isNaN)
      assert(math.abs(out((l, 2)) - 1.0 / 1.5) < 1e-15)
    }
  }
}
