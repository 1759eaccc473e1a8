package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Gradients
import graft.operators.Gradients.NAngles
import graft.pipeline.Recipes

/** The streak tail runs as one per-window kernel. It must keep the results of
  * the long-format chain it replaced (window median, 72-sum pivot, array
  * `transform` cascade, `row_number` peak), which stays here as the
  * reference.
  */
class StreaksKernelSpec extends SparkSpec {
  import spark.implicits._

  /** The previous long-format chain. */
  private object reference {
    private def bin: Column = least(
      floor(round((atan2(col("g2i"), col("g2r")) / 2.0 + lit(math.Pi / 2)) /
        lit(math.Pi / NAngles), 9)).cast("int"),
      lit(NAngles - 1))

    private def histogramBy(base: DataFrame, k1: String, k2: String): DataFrame = {
      val w = Window.partitionBy(col(k1), col(k2))
      base.withColumn("m", hypot(col("g2r"), col("g2i"))).filter(col("m") > 0)
        .select(col(k1), col(k2), col("g2r"), col("g2i"), col("m"),
          median(col("m")).over(w).as("med_m"), count(lit(1)).over(w).as("n_valid"))
        .select(col(k1), col(k2), bin.as("bin"),
          (col("m") / (col("m") + col("med_m"))).as("r"), col("n_valid"))
        .groupBy(col(k1), col(k2), col("bin"))
        .agg(sum(col("r")).as("weight"), count(lit(1)).as("n_px"),
          min(col("n_valid")).as("n_valid"))
    }

    def gradientHistogram(g2: DataFrame, ws: Int): DataFrame =
      histogramBy(g2.select((col("line") / ws).cast("int").as("win_line"),
        (col("sample") / ws).cast("int").as("win_sample"), col("g2r"), col("g2i")),
        "win_line", "win_sample")

    def gradientHistogramOverlapping(g2: DataFrame, ws: Int, step: Int): DataFrame = {
      val h = ws / 2
      histogramBy(g2.select(col("line"), col("sample"), col("g2r"), col("g2i"))
        .as[(Int, Int, Double, Double)]
        .flatMap { case (l, s, re, im) =>
          for {
            kl <- math.max(Math.floorDiv(l - h, step) + 1, 0) to Math.floorDiv(l + h, step)
            ks <- math.max(Math.floorDiv(s - h, step) + 1, 0) to Math.floorDiv(s + h, step)
          } yield (kl * step, ks * step, re, im)
        }.toDF("cl", "cs", "g2r", "g2i"), "cl", "cs")
    }

    def circSmooth(hist: DataFrame, dilations: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
      val n = NAngles
      def at(a: Column, i: Column): Column = element_at(a, i + 1)
      def sh(a: Column, d: Int, i: Column): Column = at(a, pmod(i + lit(d), lit(n)))
      val sums = (0 until n).map(b => sum(when(col("bin") === b, col("weight"))).as(s"w$b"))
      val dense = hist.groupBy(col("win_line"), col("win_sample"))
        .agg(sums.head, sums.tail: _*)
        .select(col("win_line"), col("win_sample"),
          array((0 until n).map(b => coalesce(col(s"w$b"), lit(0.0))): _*).as("w"),
          array((0 until n).map(b => col(s"w$b").isNotNull): _*).as("sup"))
      val idx = sequence(lit(0), lit(n - 1))
      dilations.foldLeft(dense) { (df, d) =>
        df.select(col("win_line"), col("win_sample"),
          transform(idx, i => sh(col("w"), -d, i) * lit(0.25) + at(col("w"), i) * lit(0.5) +
            sh(col("w"), d, i) * lit(0.25)).as("w"),
          transform(idx, i => sh(col("sup"), -d, i) || at(col("sup"), i) || sh(col("sup"), d, i))
            .as("sup"))
      }.select(col("win_line"), col("win_sample"),
          posexplode(zip_with(col("w"), col("sup"), (w, s) => struct(w.as("w"), s.as("s")))))
        .where(col("col.s"))
        .select(col("win_line"), col("win_sample"), col("pos").as("bin"), col("col.w").as("weight"))
    }

    def peak(hist: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("win_line"), col("win_sample"))
        .orderBy(round(col("weight"), 6).desc, col("bin").asc)
      hist.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("win_line"), col("win_sample"), col("bin").as("peak_bin"),
          round(col("weight"), 6).as("peak_weight"),
          round(lit(-math.Pi / 2) + (col("bin") + 0.5) * lit(math.Pi / NAngles) + lit(math.Pi / 2), 6)
            .as("streak_dir_rad"))
    }

    def multiscale(grid: DataFrame, downscales: Seq[Int], ws: Int): DataFrame =
      downscales.map { f =>
        val g = if (f == 1) grid else Gradients.coarsen(grid, f).drop("n_px")
        gradientHistogram(Gradients.scharrG2(g), ws / f).withColumn("downscale_factor", lit(f))
      }.reduce(_ unionAll _)

    def streaks(grid: DataFrame, downscales: Seq[Int], ws: Int): DataFrame =
      peak(circSmooth(multiscale(grid, downscales, ws)
        .groupBy(col("win_line"), col("win_sample"), col("bin"))
        .agg(avg(col("weight")).as("weight"))))
  }

  /** Same row set keyed by `keys`; doubles within 1e-12 relative (NaN
    * matching NaN), every other column exactly equal. */
  private def assertSame(got: DataFrame, want: DataFrame, keys: Seq[String]): Unit = {
    val cols = want.columns.toSeq
    assert(got.columns.toSeq.sorted == cols.sorted, s"${got.columns.toSeq} vs $cols")
    def rows(df: DataFrame): Map[Seq[Any], Row] =
      df.select(cols.map(col): _*).collect().map(r => keys.map(k => r.get(cols.indexOf(k))) -> r).toMap
    val (g, w) = (rows(got), rows(want))
    assert(g.size == got.count() && w.size == want.count(), "duplicate keys")
    assert(w.nonEmpty, "the reference produced no rows")
    assert(g.keySet == w.keySet,
      s"row sets differ: only new ${(g.keySet -- w.keySet).take(5)}, only reference ${(w.keySet -- g.keySet).take(5)}")
    def close(a: Double, b: Double): Boolean = (a.isNaN && b.isNaN) || a == b ||
      math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))
    for ((k, wr) <- w; gr = g(k); i <- cols.indices) (gr.get(i), wr.get(i)) match {
      case (x: Double, y: Double) => assert(close(x, y), s"${cols(i)} at $k: $x vs $y")
      case (x, y) => assert(x == y, s"${cols(i)} at $k: $x vs $y")
    }
  }

  private val winKeys = Seq("win_line", "win_sample")
  private val histKeys = winKeys :+ "bin"

  /** n × n σ0-like grid: four quadrants, each a plane wave at a seeded
    * orientation, multiplicative speckle, and a NaN "land" strip in the
    * first quadrant. */
  private def plantedScene(seed: Long, n: Int = 64): DataFrame = {
    val r = new scala.util.Random(seed)
    val th = Array.fill(4)(-math.Pi / 2 + (r.nextInt(NAngles) + 0.5) * math.Pi / NAngles)
    val lambda = Array.fill(4)(8.0 + 6.0 * r.nextDouble())
    (for (l <- 0 until n; s <- 0 until n) yield {
      val q = (if (l >= n / 2) 2 else 0) + (if (s >= n / 2) 1 else 0)
      val wave = math.sin(2 * math.Pi * (s * math.cos(th(q)) + l * math.sin(th(q))) / lambda(q))
      val v = if (q == 0 && l < 3) Double.NaN
        else (1.0 + 0.15 * wave) * math.pow(10.0, 0.05 * r.nextGaussian())
      (l, s, v)
    }).toDF("line", "sample", "v")
  }

  /** Hand-made Scharr output: (line, sample, g2r, g2i). */
  private def g2Frame(px: Seq[(Int, Int, Double, Double)]): DataFrame =
    px.toDF("line", "sample", "g2r", "g2i")

  test("Recipes.streaks equals the long-format chain on planted scenes at downscales 1 and 2") {
    for (seed <- Seq(3L, 17L, 101L)) {
      val grid = plantedScene(seed).cache()
      assertSame(Recipes.streaks(grid, Seq(1, 2), 16), reference.streaks(grid, Seq(1, 2), 16), winKeys)
      assertSame(Recipes.streaks(grid, Seq(1), 16), reference.streaks(grid, Seq(1), 16), winKeys)
      val g2 = Gradients.scharrG2(grid).cache()
      val h = Gradients.gradientHistogram(g2, 16)
      assertSame(h, reference.gradientHistogram(g2, 16), histKeys)
      assertSame(Gradients.circSmooth(h), reference.circSmooth(reference.gradientHistogram(g2, 16)),
        histKeys)
      assertSame(Gradients.peak(Gradients.circSmooth(h)),
        reference.peak(reference.circSmooth(reference.gradientHistogram(g2, 16))), winKeys)
      assertSame(Gradients.multiscale(grid, Seq(1, 2), Seq(16)).drop("window_size"),
        reference.multiscale(grid, Seq(1, 2), 16), histKeys :+ "downscale_factor")
      g2.unpersist(); grid.unpersist()
    }
  }

  test("a bin present in one config only averages over that config alone") {
    val grid = plantedScene(5L).cache()
    val once = reference.multiscale(grid, Seq(1, 2), 16)
      .groupBy(histKeys.map(col): _*).count().filter(col("count") === 1).count()
    assert(once > 0, "the scene has no bin present in one config only")
    assertSame(Recipes.streaks(grid, Seq(1, 2), 16), reference.streaks(grid, Seq(1, 2), 16), winKeys)
    // two window sizes at one downscale share window keys but not pixels
    assertSame(Gradients.multiscale(grid, Seq(1, 2), Seq(8, 16)),
      Seq(8, 16).map(ws => reference.multiscale(grid, Seq(1, 2), ws).withColumn("window_size", lit(ws)))
        .reduce(_ unionAll _), histKeys ++ Seq("downscale_factor", "window_size"))
    grid.unpersist()
  }

  test("odd and even counts of m > 0 pixels take Spark's interpolated median") {
    val r = new scala.util.Random(11)
    def px(win: Int, n: Int, zeros: Int): Seq[(Int, Int, Double, Double)] =
      (0 until n).map(i => (i / 4, 4 * win + i % 4, r.nextGaussian(), r.nextGaussian())) ++
        (n until n + zeros).map(i => (i / 4, 4 * win + i % 4, 0.0, 0.0))
    val g2 = g2Frame(px(0, 5, 2) ++ px(1, 6, 1) ++ px(2, 1, 3) ++ px(3, 2, 0))
    val got = Gradients.gradientHistogram(g2, 4)
    assertSame(got, reference.gradientHistogram(g2, 4), histKeys)
    assert(got.select("win_sample", "n_valid").distinct().as[(Int, Long)].collect().toMap ==
      Map(0 -> 5L, 1 -> 6L, 2 -> 1L, 3 -> 2L))
    assertSame(Gradients.peak(Gradients.circSmooth(got)),
      reference.peak(reference.circSmooth(reference.gradientHistogram(g2, 4))), winKeys)
  }

  test("a window whose gradients are all zero gives no row") {
    // a constant 24 × 24 block: window (0, 0) has zero gradients at both
    // downscales, while the rest of the scene does not
    val grid = plantedScene(23L).select(col("line"), col("sample"),
      when(col("line") < 24 && col("sample") < 24, lit(1.0)).otherwise(col("v")).as("v")).cache()
    val got = Recipes.streaks(grid, Seq(1, 2), 16)
    assertSame(got, reference.streaks(grid, Seq(1, 2), 16), winKeys)
    assert(got.filter(col("win_line") === 0 && col("win_sample") === 0).count() == 0)
    assert(got.count() == 15)
    val zero = g2Frame(Seq((0, 0, 0.0, 0.0), (0, 1, 0.0, -0.0), (1, 0, -0.0, 0.0)))
    assert(Gradients.gradientHistogram(zero, 4).count() == 0)
    grid.unpersist()
  }

  test("axis-aligned and bin-boundary gradients bin as Spark does") {
    // g2i = ±1e-17 and ±0.0 next to the atan2 branch cut; then g² exactly on
    // every bin boundary, where the 9-decimal round lifts 13 of the 72
    // quotients (k − 1e-15) back onto bin k
    val aligned = Seq((1.0, 1e-17), (1.0, -1e-17), (-1.0, 1e-17), (-1.0, -1e-17),
      (-1.0, 0.0), (-1.0, -0.0), (0.0, 1.0), (0.0, -1.0), (2.0, -0.0))
    val boundary = (0 until NAngles).map { k =>
      val t = -math.Pi + k * math.Pi / 36
      (math.cos(t), math.sin(t))
    }
    val g2 = g2Frame((aligned ++ boundary).zipWithIndex.map { case ((re, im), i) =>
      (i / 9, i % 9, re, im) })
    val got = Gradients.gradientHistogram(g2, 1)
    assertSame(got, reference.gradientHistogram(g2, 1), histKeys)
    // per pixel (1 × 1 windows), the boundary gradients land on bins 0..71
    assert(got.filter(col("win_line") * 9 + col("win_sample") >= aligned.length)
      .select("bin").as[Int].collect().sorted.toSeq == (0 until NAngles))
    assertSame(Gradients.gradientHistogram(g2, 9), reference.gradientHistogram(g2, 9), histKeys)
  }

  test("an exact tie in rounded weight goes to the lower bin") {
    val hist = Seq(
      // two isolated equal deltas: smoothing keeps them equal
      (0, 0, 10, 1.0), (0, 0, 30, 1.0),
      // equal after round(·, 6) although bin 50 is larger unrounded
      (0, 1, 50, 0.50000012), (0, 1, 20, 0.5000001),
      // a single bin, and a bin at the wrap-around edge
      (1, 0, 71, 0.25), (1, 1, 0, 0.125), (1, 1, 71, 0.125)
    ).toDF("win_line", "win_sample", "bin", "weight")
    val smoothed = Gradients.peak(Gradients.circSmooth(hist))
    assertSame(smoothed, reference.peak(reference.circSmooth(hist)), winKeys)
    val direct = Gradients.peak(hist)
    assertSame(direct, reference.peak(hist), winKeys)
    val bins = direct.select("win_line", "win_sample", "peak_bin").as[(Int, Int, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(bins == Map((0, 0) -> 10, (0, 1) -> 20, (1, 0) -> 71, (1, 1) -> 0), bins.toString)
    assert(smoothed.filter(col("win_line") === 0 && col("win_sample") === 0)
      .select("peak_bin").as[Int].collect().toSeq == Seq(10))
  }

  test("overlapping windows at step 4 equal the reference") {
    val g2 = Gradients.scharrG2(plantedScene(29L, 48)).cache()
    assertSame(Gradients.gradientHistogramOverlapping(g2, 16, 4),
      reference.gradientHistogramOverlapping(g2, 16, 4), Seq("cl", "cs", "bin"))
    g2.unpersist()
  }
}
