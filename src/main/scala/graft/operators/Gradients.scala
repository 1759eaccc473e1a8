package graft.operators

import scala.collection.mutable.ArrayBuilder
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** Gradient / streak-direction analysis (reference gradients.py, SURVEY.md
  * §2.8) re-expressed Spark-first:
  *
  *  - Scharr local gradients (R5, gradients.py:588-634) run as a tile+halo
  *    kernel ([[Tiles.stencil3x3]]);
  *  - pyramid downsampling (R3/R12, gradients.py:689-721, :336-362) is a
  *    `groupBy(line/f, sample/f).avg` — exact INTER_AREA for integer factors;
  *  - the windowed weighted angular histogram (R10, gradients.py:828-879),
  *    circular smoothing (R15, :882-923) and the peak (R16, :419-428) are one
  *    plain-Scala kernel over a window's pixels and its 72-slot vector,
  *    called once per window after one groupBy on the window key (the
  *    in-window median breaks partial aggregation, SURVEY.md §7.4 risk 3).
  *
  * Angles: the squared-gradient trick (gradients.py:619-621) makes ±g
  * equivalent; angle(√(g²)) = atan2(g2i, g2r)/2 ∈ [-π/2, π/2].
  */
object Gradients {

  val NAngles = 72

  /** R5: Scharr x/y gradients → squared complex gradient (g2r, g2i).
    * Emits interior (full-neighborhood) pixels only.
    */
  def scharrG2(grid: DataFrame, tileSize: Int = 64): DataFrame =
    Tiles.stencil3x3(grid, tileSize) { nb =>
      // nb row-major: 0:(l-1,s-1) 1:(l-1,s) 2:(l-1,s+1) 3:(l,s-1) 4:center
      //               5:(l,s+1) 6:(l+1,s-1) 7:(l+1,s) 8:(l+1,s+1)
      // cv2.Scharr kernels (gradients.py:612-613); term order mirrors the
      // SQL oracle exactly for bit-stable sums
      val gx = -3.0 * nb(0) + 3.0 * nb(2) - 10.0 * nb(3) + 10.0 * nb(5) - 3.0 * nb(6) + 3.0 * nb(8)
      val gy = -3.0 * nb(0) - 10.0 * nb(1) - 3.0 * nb(2) + 3.0 * nb(6) + 10.0 * nb(7) + 3.0 * nb(8)
      (gx * gx - gy * gy, 2.0 * gx * gy) // (gx + i·gy)²
    }.withColumnsRenamed(Map("a" -> "g2r", "b" -> "g2i"))

  /** R2: 3×3 Gaussian B2 = [1,2,1;2,4,2;1,2,1]/16 smoothing with edge
    * renormalization — missing/edge neighbors drop out of BOTH numerator
    * and denominator (`conv(v·w)/conv(ones·w)`, gradients.py:675-686).
    * Output channel b carries the weight mass actually used.
    */
  def smoothB2(grid: DataFrame, tileSize: Int = 64): DataFrame =
    Tiles.stencil(grid, tileSize, 1) { (nb, mask) =>
      var num = 0.0; var den = 0.0
      var k = 0
      while (k < 9) {
        if (mask(k)) {
          val wl = if (k / 3 == 1) 2.0 else 1.0
          val ws = if (k % 3 == 1) 2.0 else 1.0
          num += wl * ws * nb(k); den += wl * ws
        }
        k += 1
      }
      Some((num / den, den))
    }.withColumnsRenamed(Map("a" -> "v_smooth", "b" -> "w_used"))

  /** R4/R19-P1: local mean + std over a (2r+1)² uniform window of present
    * pixels; P1 = std/mean is the Koch/Zhao heterogeneity mask input
    * (gradients.py:783-787). std via sqrt(max(E[x²]−E[x]², 0)).
    */
  def localStats(grid: DataFrame, radius: Int = 2, tileSize: Int = 64): DataFrame =
    Tiles.stencil(grid, tileSize, radius) { (nb, mask) =>
      var s = 0.0; var s2 = 0.0; var n = 0
      var k = 0
      while (k < nb.length) {
        if (mask(k)) { s += nb(k); s2 += nb(k) * nb(k); n += 1 }
        k += 1
      }
      val mean = s / n
      val std = math.sqrt(math.max(s2 / n - mean * mean, 0.0))
      Some((mean, std))
    }.withColumnsRenamed(Map("a" -> "local_mean", "b" -> "local_std"))

  /** R3/R12: integer-factor downsample by block mean (exact INTER_AREA).
    *
    * Plain double `avg` is used deliberately: its partial-merge order is
    * nondeterministic, but a block has ≤ factor² values, so order variants
    * differ by a few ULPs (~1e-19 relative). Unlike [[graft.queries.Streaks.grid]]
    * — whose inputs are exact decimal quanta that land exactly ON rounding
    * boundaries, forcing the decimal-sum pattern there — coarsen's inputs are
    * generic doubles (post-smoothing weighted means), so the probability of a
    * value sitting within a ULP of a 1e-6/1e-8 rounding boundary is ~1e-14
    * per cell; oracle comparisons round to ≥6 decimals on both sides.
    */
  def coarsen(grid: DataFrame, factor: Int): DataFrame =
    grid.groupBy(
        (col("line") / factor).cast("int").as("line"),
        (col("sample") / factor).cast("int").as("sample"))
      .agg(avg(col("v")).as("v"), count(lit(1)).as("n_px"))

  /** R3 — the anti-moiré reduce-by-2 pyramid step on one channel:
    * pre-smooth ≈B4 (two renormalized B2 passes), 2×2 coarsen, post-smooth
    * B2 (gradients.py:689-721; B4 = B2∗B2 exactly away from edges).
    */
  def reduce2(channel: DataFrame, tileSize: Int = 64): DataFrame = {
    def sm(df: DataFrame): DataFrame =
      smoothB2(df, tileSize).select(col("line"), col("sample"), col("v_smooth").as("v"))
    sm(coarsen(sm(sm(channel)), 2).drop("n_px"))
  }

  /** R5 complete — local gradients at half resolution with quality:
    * Scharr → squared complex gradient → R2 of (re, im, |g²|) → quality
    * c = |R2(g²)| / (R2(|g²|) + 1e-5), clipped to ≤1 else 0
    * (gradients.py:588-634).
    */
  def localGradients(grid: DataFrame, tileSize: Int = 64): DataFrame = {
    val g2 = scharrG2(grid, tileSize)
    def ch(c: String): DataFrame = g2.select(col("line"), col("sample"), col(c).as("v"))
    val mag = g2.select(col("line"), col("sample"), hypot(col("g2r"), col("g2i")).as("v"))
    val re2 = reduce2(ch("g2r"), tileSize).withColumnRenamed("v", "g2r")
    val im2 = reduce2(ch("g2i"), tileSize).withColumnRenamed("v", "g2i")
    val g3 = reduce2(mag, tileSize).withColumnRenamed("v", "g3")
    val joined = re2.join(im2, Seq("line", "sample")).join(g3, Seq("line", "sample"))
    val cRaw = hypot(col("g2r"), col("g2i")) / (col("g3") + lit(1e-5))
    joined.withColumn("c", when(cRaw <= 1.0, cRaw).otherwise(lit(0.0)))
  }

  final case class LgPx(tl: Int, ts: Int, l: Int, s: Int, v: Double)
  final case class LgOut(line: Int, sample: Int, g2r: Double, g2i: Double, g3: Double, c: Double)

  /** R5∘R3 FUSED — the whole local-gradients chain (Scharr → g² → two B2
    * pre-smooths → 2× coarsen → B2 post-smooth → quality c) in ONE tile+halo
    * shuffle, the stencil-fusion optimization SURVEY.md §4.2 plans for
    * composed pyramids: [[localGradients]] runs the identical math as 13
    * exchanges (1 Scharr + 3 channels × (2 smooths + coarsen + smooth)) plus
    * 2 joins; here each fine pixel is shuffled ONCE into the coarse tiles
    * whose widened halo needs it, and every pyramid stage runs on the dense
    * in-memory plane.
    *
    * Halo accounting (fine pixels): post-smooth needs coarse ±1 → fine ±2;
    * the two pre-smooths need ±2; Scharr ±1 → halo 5. Exactness shrinks by
    * one plane ring per stage, so owned coarse cells (≥5 from the plane
    * edge, depending on cells ≥3 deep) always see their true global
    * neighborhoods — the map_overlap rule generalized to a fused chain.
    *
    * Equivalence with the compositional version is bit-exact per stage
    * (identical term order) except the 2×2 coarsen mean, whose shuffle-order
    * sum can differ by ULPs (see [[coarsen]]); GradientsSpec asserts
    * agreement to 1e-9.
    */
  def localGradientsFused(grid: DataFrame, tileSize: Int = 32): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val t = tileSize // coarse tile side; a tile spans 2t fine pixels
    val H = 5        // fine-pixel halo (see scaladoc)
    require(2 * t > H, s"fine tile span ${2 * t} must exceed halo $H")

    val tiled: Dataset[LgPx] = grid
      .select(col("line").cast("int"), col("sample").cast("int"), col("v").cast("double"))
      .as[(Int, Int, Double)]
      .flatMap { case (l, s, v) =>
        val tl0 = Math.floorDiv(l, 2 * t); val ts0 = Math.floorDiv(s, 2 * t)
        for {
          dl <- -1 to 1
          ds <- -1 to 1
          tl = tl0 + dl
          ts = ts0 + ds
          if tl >= 0 && ts >= 0 &&
            l >= 2 * tl * t - H && l <= 2 * (tl + 1) * t - 1 + H &&
            s >= 2 * ts * t - H && s <= 2 * (ts + 1) * t - 1 + H
        } yield LgPx(tl, ts, l, s, v)
      }

    tiled.groupByKey(p => (p.tl, p.ts)).flatMapGroups { (key: (Int, Int), it: Iterator[LgPx]) =>
      val (tl, ts) = key
      val w = 2 * t + 2 * H
      val l0 = 2 * tl * t - H; val s0 = 2 * ts * t - H
      val v = new Array[Double](w * w); val pres = new Array[Boolean](w * w)
      it.foreach { p => val i = (p.l - l0) * w + (p.s - s0); v(i) = p.v; pres(i) = true }

      // Scharr → squared complex gradient; full-neighborhood cells only
      // (term order identical to scharrG2 for bit-equality)
      val a = new Array[Double](w * w); val b = new Array[Double](w * w)
      val m = new Array[Double](w * w); val pS = new Array[Boolean](w * w)
      var r = 1
      while (r < w - 1) {
        var c = 1
        while (c < w - 1) {
          val i = r * w + c
          if (pres(i - w - 1) && pres(i - w) && pres(i - w + 1) &&
              pres(i - 1) && pres(i) && pres(i + 1) &&
              pres(i + w - 1) && pres(i + w) && pres(i + w + 1)) {
            val gx = -3.0 * v(i - w - 1) + 3.0 * v(i - w + 1) - 10.0 * v(i - 1) +
              10.0 * v(i + 1) - 3.0 * v(i + w - 1) + 3.0 * v(i + w + 1)
            val gy = -3.0 * v(i - w - 1) - 10.0 * v(i - w) - 3.0 * v(i - w + 1) +
              3.0 * v(i + w - 1) + 10.0 * v(i + w) + 3.0 * v(i + w + 1)
            a(i) = gx * gx - gy * gy; b(i) = 2.0 * gx * gy
            m(i) = math.hypot(a(i), b(i)); pS(i) = true
          }
          c += 1
        }
        r += 1
      }

      // pyramid tail = PlaneChain's shared plane kernels, per channel
      // (identical weights/order as smoothB2/coarsen, see PlaneChain)
      def chain(vs: Array[Double]): PlaneChain.Plane = {
        def sm(p: PlaneChain.Plane) = PlaneChain.smoothPlane(p, 1)
        sm(PlaneChain.coarsenPlane(sm(sm(PlaneChain.Plane(vs, pS, w, l0, s0)))))
      }
      val fa = chain(a); val fb = chain(b); val fm = chain(m)

      // quality + emit owned coarse cells (fa/fb/fm share geometry: same
      // input presence and the same deterministic chain)
      Iterator.range(0, t).flatMap { ol =>
        Iterator.range(0, t).flatMap { os =>
          val gl = tl * t + ol; val gs = ts * t + os
          val row = gl - fa.l0; val cc = gs - fa.s0
          if (row < 0 || row >= fa.side || cc < 0 || cc >= fa.side ||
              !fa.pres(row * fa.side + cc)) Iterator.empty
          else {
            val i = row * fa.side + cc
            val cRaw = math.hypot(fa.vals(i), fb.vals(i)) / (fm.vals(i) + 1e-5)
            val cQ = if (cRaw <= 1.0) cRaw else 0.0
            Iterator.single(LgOut(gl, gs, fa.vals(i), fb.vals(i), fm.vals(i), cQ))
          }
        }
      }
    }.toDF()
  }

  // ---- the per-window streak kernel: the only implementation of the R10,
  // R15, R16 and R17 math; the DataFrame functions below call it per window

  /** Spark's `round(x, scale)` on a DOUBLE: HALF_UP on the shortest decimal
    * string; NaN and ±Inf pass through. */
  def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  /** The bin of atan2(g2i + 0.0, g2r + 0.0)/2 (Spark's atan2). Rounding the
    * quotient to 9 decimals before the floor keeps an axis-aligned g2i of
    * ±1e-17 (summation-order noise) from flipping a bin between engines. */
  def angleBin(g2r: Double, g2i: Double): Int = {
    val q = (math.atan2(g2i + 0.0, g2r + 0.0) / 2.0 + math.Pi / 2) / (math.Pi / NAngles)
    // the round moves q by at most 5e-10: it can lift the floor only just
    // below an integer, so the decimal round runs only there
    val fq = math.floor(q)
    math.min((if (q - fq < 0.999999) fq else math.floor(roundHalfUp(q, 9))).toLong.toInt,
      NAngles - 1)
  }

  /** R10 over one window: per-bin sums of r = m/(m + median m) and pixel
    * counts over its m = |g²| > 0 pixels (NaN too: Spark orders NaN above
    * every number), and their number. The median is Spark's: linear
    * interpolation at 0.5·(n − 1). */
  def windowHistogram(re: Array[Double], im: Array[Double]): (Array[Double], Array[Long], Long) = {
    val m = Array.tabulate(re.length)(i => math.hypot(re(i), im(i)))
    val s = m.filter(x => x > 0 || x.isNaN)
    java.util.Arrays.sort(s)
    val (w, nPx, k) = (new Array[Double](NAngles), new Array[Long](NAngles), s.length)
    if (k > 0) {
      val (pos, lo, hi) = ((k - 1) * 0.5, (k - 1) / 2, k / 2)
      val med = if (s(lo) == s(hi)) s(lo) else (hi - pos) * s(lo) + (pos - lo) * s(hi)
      for (i <- m.indices if m(i) > 0 || m(i).isNaN) {
        val b = angleBin(re(i), im(i))
        w(b) += m(i) / (m(i) + med); nPx(b) += 1
      }
    }
    (w, nPx, k)
  }

  /** R15: the [1,2,1]/4 kernel on the wrapped 72-slot axis at each dilation
    * in turn, in place. A bin is supported when a tap is, so only bins
    * reachable from an occupied bin carry a value (the SQL oracle's rows). */
  def circCascade(w: Array[Double], sup: Array[Boolean], dilations: Seq[Int]): Unit =
    dilations.foreach { d =>
      def at(i: Int): Int = Math.floorMod(i, NAngles)
      val (w0, s0) = (w.clone(), sup.clone())
      for (i <- 0 until NAngles) {
        w(i) = w0(at(i - d)) * 0.25 + w0(i) * 0.5 + w0(at(i + d)) * 0.25
        sup(i) = s0(at(i - d)) || s0(i) || s0(at(i + d))
      }
    }

  /** R16: (bin, rounded weight, streak direction = bin center + π/2) of the
    * supported bin with the largest round(weight, 6), the lower bin on ties,
    * in Spark's order (NaN above every number, −0.0 level with 0.0). */
  def peakOf(w: Array[Double], sup: Array[Boolean]): Option[(Int, Double, Double)] =
    (0 until NAngles).filter(sup(_)).reduceOption { (a, c) =>
      val (ra, rc) = (roundHalfUp(w(a), 6), roundHalfUp(w(c), 6))
      if (rc != ra && java.lang.Double.compare(rc, ra) > 0) c else a
    }.map(b => (b, roundHalfUp(w(b), 6),
      roundHalfUp(-math.Pi / 2 + (b + 0.5) * (math.Pi / NAngles) + math.Pi / 2, 6)))

  /** Groups `df` once by (k1, k2), collects each group's `fields` as rows,
    * runs `f` on them and explodes its output into columns `names`. The
    * output keeps (k1, k2) and their partitioning, so a later grouping on
    * them adds no exchange. */
  private def perGroup[T <: Product: TypeTag](df: DataFrame, k1: String, k2: String,
      fields: Seq[Column], names: String*)(f: Seq[Row] => Seq[T]): DataFrame =
    df.groupBy(col(k1), col(k2)).agg(collect_list(struct(fields: _*)).as("rows"))
      .select(col(k1), col(k2), explode(udf(f).apply(col("rows"))).as("o"))
      .select(col(k1) +: col(k2) +:
        names.zipWithIndex.map { case (n, i) => col(s"o._${i + 1}").as(n) }: _*)

  /** Each config's [[windowHistogram]] from one window's (cfg, g2r, g2i)
    * rows, cfg ∈ [0, nCfg). */
  private def histogramsOf(px: Seq[Row], nCfg: Int): Array[(Array[Double], Array[Long], Long)] = {
    val byCfg = Array.fill(nCfg)((new ArrayBuilder.ofDouble, new ArrayBuilder.ofDouble))
    px.foreach { r => byCfg(r.getInt(0))._1 += r.getDouble(1); byCfg(r.getInt(0))._2 += r.getDouble(2) }
    byCfg.map { case (re, im) => windowHistogram(re.result(), im.result()) }
  }

  /** One row per (k1, k2, cfg, bin) present in `px` (k1, k2, cfg, g2r, g2i):
    * weight sum, n_px and the window's n_valid. */
  private def histogramRows(px: DataFrame, k1: String, k2: String, nCfg: Int): DataFrame =
    perGroup(px, k1, k2, Seq(col("cfg"), col("g2r"), col("g2i")),
        "cfg", "bin", "weight", "n_px", "n_valid") { rows =>
      for (((w, nPx, nValid), c) <- histogramsOf(rows, nCfg).toSeq.zipWithIndex;
           bin <- 0 until NAngles if nPx(bin) > 0) yield (c, bin, w(bin), nPx(bin), nValid)
    }

  /** R10 over [[scharrG2]]'s output: one row per (win_line, win_sample,
    * bin) present, with weight sum, n_px and the window's n_valid. */
  def gradientHistogram(g2: DataFrame, windowSize: Int): DataFrame =
    histogramRows(g2.select((col("line") / windowSize).cast("int").as("win_line"),
      (col("sample") / windowSize).cast("int").as("win_sample"),
      lit(0).as("cfg"), col("g2r"), col("g2i")), "win_line", "win_sample", 1).drop("cfg")

  /** R7-R9 proper: OVERLAPPING windowed histogram — the reference's rolling
    * windows sampled at centers every `step` pixels
    * (gradients.py:150-205: rolling(center=True).construct + sel(centers)).
    * Each gradient pixel is flatMapped to every window containing it
    * ((ws/step)² duplication, SURVEY.md R7), then the kernel runs per center.
    */
  def gradientHistogramOverlapping(g2: DataFrame, windowSize: Int, step: Int): DataFrame = {
    val spark = g2.sparkSession
    import spark.implicits._
    val h = windowSize / 2
    val assigned = g2.select(col("line"), col("sample"), col("g2r"), col("g2i"))
      .as[(Int, Int, Double, Double)]
      .flatMap { case (l, s, re, im) =>
        for {
          kl <- math.max(Math.floorDiv(l - h, step) + 1, 0) to Math.floorDiv(l + h, step)
          ks <- math.max(Math.floorDiv(s - h, step) + 1, 0) to Math.floorDiv(s + h, step)
        } yield (kl * step, ks * step, 0, re, im)
      }
      .toDF("cl", "cs", "cfg", "g2r", "g2i")
    histogramRows(assigned, "cl", "cs", 1).drop("cfg")
  }

  /** Collects each window of a long (win_line, win_sample, bin, weight)
    * frame into its 72-slot vector (weights summed per bin) for `f`. */
  private def perVector[T <: Product: TypeTag](hist: DataFrame, names: String*)(
      f: (Array[Double], Array[Boolean]) => Seq[T]): DataFrame =
    perGroup(hist, "win_line", "win_sample",
        Seq(col("bin").cast("int"), col("weight").cast("double")), names: _*) { bins =>
      val (w, sup) = (new Array[Double](NAngles), new Array[Boolean](NAngles))
      for (r <- bins if !r.isNullAt(1)) { w(r.getInt(0)) += r.getDouble(1); sup(r.getInt(0)) = true }
      f(w, sup)
    }

  /** R15: [[circCascade]] per window of a long histogram, emitting the
    * supported bins; a downstream [[peak]] adds no exchange. */
  def circSmooth(hist: DataFrame, dilations: Seq[Int] = Seq(1, 2, 4)): DataFrame =
    perVector(hist, "bin", "weight") { (w, sup) =>
      circCascade(w, sup, dilations)
      (0 until NAngles).filter(sup(_)).map(b => (b, w(b)))
    }

  /** R16: [[peakOf]] per window of a long frame with one row per (window,
    * bin), e.g. [[circSmooth]]'s output. */
  def peak(hist: DataFrame): DataFrame =
    perVector(hist, "peak_bin", "peak_weight", "streak_dir_rad")((w, sup) => peakOf(w, sup).toSeq)

  /** Dilated renormalized B2 smoothing: taps at offsets {-d, 0, d}² with
    * [1,2,1]² weights. B4-dilated-by-2 == (B2 dilated)∘(B2 dilated) since
    * dilation distributes over convolution (gradients.py:741-744 B42).
    */
  def smoothB2Dilated(grid: DataFrame, d: Int, tileSize: Int = 64): DataFrame =
    Tiles.stencil(grid, tileSize, d) { (nb, mask) =>
      val side = 2 * d + 1
      var num = 0.0; var den = 0.0
      var ti = 0
      while (ti < 3) {
        var tj = 0
        while (tj < 3) {
          val k = (ti * d) * side + (tj * d)
          if (mask(k)) {
            val w = (if (ti == 1) 2.0 else 1.0) * (if (tj == 1) 2.0 else 1.0)
            num += w * nb(k); den += w
          }
          tj += 1
        }
        ti += 1
      }
      Some((num / den, den))
    }.select(col("line"), col("sample"), col("a").as("v"))

  /** R4 — the `Mean` local-mean operator: B4 (≈B2∘B2) then B42 (dilated B4)
    * (gradients.py:724-755).
    */
  def meanOp(channel: DataFrame, tileSize: Int = 64): DataFrame = {
    def sm(df: DataFrame): DataFrame =
      smoothB2(df, tileSize).select(col("line"), col("sample"), col("v_smooth").as("v"))
    smoothB2Dilated(smoothB2Dilated(sm(sm(channel)), 2, tileSize), 2, tileSize)
  }

  /** Bilinear zoom regrid (ndimage.zoom order=1 analogue): maps each target
    * cell to fractional source coords with the symmetric endpoint-preserving
    * map src = dst·(nSrc−1)/(nDst−1), 4-neighbor inner join.
    */
  def zoomBilinear(src: DataFrame, srcNL: Int, srcNS: Int, dstNL: Int, dstNS: Int): DataFrame = {
    val spark = src.sparkSession
    // target grid generated distributed (one spark.range, id → (line, sample))
    // — never materialized on the driver; the source raster is never
    // broadcast (it grows with the scene). Shape: tag-explode each target's
    // 4 corner keys, ONE shuffle equi-join against the source on (i, j),
    // then pivot the tags back to v00..v11 columns so the final combine is
    // the exact textbook bilinear expression (deterministic — no unordered
    // float summation; boundary-clamped duplicate corners land on distinct
    // tags, so each tag resolves to exactly one value per target).
    val targets = spark.range(dstNL.toLong * dstNS).select(
      (col("id") / dstNS).cast("int").as("line"),
      (col("id") % dstNS).cast("int").as("sample"))
    val fl = col("line") * ((srcNL - 1).toDouble / math.max(dstNL - 1, 1))
    val fs = col("sample") * ((srcNS - 1).toDouble / math.max(dstNS - 1, 1))
    val t = targets.select(col("line"), col("sample"),
      floor(fl).cast("int").as("i0"), (fl - floor(fl)).as("wi"),
      floor(fs).cast("int").as("j0"), (fs - floor(fs)).as("wj"))
      .withColumn("i1", least(col("i0") + 1, lit(srcNL - 1)))
      .withColumn("j1", least(col("j0") + 1, lit(srcNS - 1)))
    def corner(tag: String, i: Column, j: Column): Column =
      struct(lit(tag).as("tag"), i.as("i"), j.as("j"))
    val corners = t.select(col("line"), col("sample"), col("wi"), col("wj"),
        explode(array(
          corner("00", col("i0"), col("j0")), corner("01", col("i0"), col("j1")),
          corner("10", col("i1"), col("j0")), corner("11", col("i1"), col("j1")))).as("c"))
      .select(col("line"), col("sample"), col("wi"), col("wj"),
        col("c.tag").as("tag"), col("c.i").as("i"), col("c.j").as("j"))
    val s = src.select(col("line").as("i"), col("sample").as("j"), col("v"))
    def tagged(tag: String): Column =
      max(when(col("tag") === tag, col("v"))).as("v" + tag)
    corners.join(s, Seq("i", "j"))
      .groupBy(col("line"), col("sample"), col("wi"), col("wj"))
      .agg(tagged("00"), tagged("01"), tagged("10"), tagged("11"))
      .select(col("line"), col("sample"),
        ((col("v00") * (lit(1.0) - col("wj")) + col("v01") * col("wj")) * (lit(1.0) - col("wi")) +
         (col("v10") * (lit(1.0) - col("wj")) + col("v11") * col("wj")) * col("wi")).as("v"))
  }

  /** R19 — rain/artifact mask filtering parameters (Zhao 2021;
    * gradients.py:758-825): P1 local heterogeneity, P2 high-frequency
    * residual vs a smoothed-upsampled background, P3 gradient-energy ratio,
    * P4 sqrt(quality); affine-clipped to [0,1] and combined
    * F = sqrt(¼Σfᵢ²) with the small-F suppression.
    *
    * Input: full-res sigma0 grid (line, sample, v). Output at half
    * resolution (r2 grid), inner-joined across components.
    */
  def filteringParameters(grid: DataFrame, tileSize: Int = 64,
      knownDims: Option[(Int, Int)] = None): DataFrame = {
    import PlaneChain.{Coarsen2, Map1, Reduce2Steps, MeanOpSteps, Smooth}
    val image = grid.select(col("line"), col("sample"), sqrt(col("v")).as("v"))
    // fused chains emit at HALF input resolution → their tile side is
    // tileSize/2 fine... output cells (floored at 16 so span always exceeds
    // the chain halo)
    val t2 = math.max(tileSize / 2, 16)
    // every pyramid chain below is ONE fused shuffle (PlaneChain) — the
    // compositional spelling (reduce2/meanOp per channel) costs 4 exchanges
    // per chain and re-executes shared prefixes per branch
    val r2 = PlaneChain.run(image, Reduce2Steps, t2)
    val lg = localGradientsFused(image, t2)
    val j = PlaneChain.run(image, Reduce2Steps ++ MeanOpSteps, t2).withColumnRenamed("v", "j")
    val j1 = PlaneChain.run(image, Reduce2Steps ++ (Map1(x => x * x) +: MeanOpSteps), t2)
      .withColumnRenamed("v", "j1")

    // half-res dims: from the caller when known (skips a driver action)
    val (nL, nS) = knownDims.getOrElse {
      val dims = r2.agg(max("line"), max("sample")).head()
      (dims.getInt(0) + 1, dims.getInt(1) + 1)
    }
    // coarsen-by-2 of a dense [0, n) index range has ceil(n/2) cells
    val bg = zoomBilinear(
      PlaneChain.run(image, Reduce2Steps ++ Seq(Coarsen2, Smooth(1)), math.max(t2 / 2, 16)),
      (nL + 1) / 2, (nS + 1) / 2, nL, nS)
      .withColumnRenamed("v", "bg")

    val g4 = PlaneChain.run(lg.select(col("line"), col("sample"), col("g3").as("v")), MeanOpSteps, t2)
      .withColumnRenamed("v", "g4")

    def clip01(c: Column): Column = least(greatest(c, lit(0.0)), lit(1.0))

    val joined = r2
      .join(j, Seq("line", "sample"))
      .join(j1, Seq("line", "sample"))
      .join(bg, Seq("line", "sample"))
      .join(lg.select(col("line"), col("sample"), col("g3"), col("c")), Seq("line", "sample"))
      .join(g4, Seq("line", "sample"))
    val p1 = sqrt(greatest(col("j1") - col("j") * col("j"), lit(0.0))) / (col("j") + lit(1e-5))
    val p2 = pow(col("v") - col("bg"), 2) / (col("j") * col("j") + lit(1e-5))
    val p3 = col("g3") / (col("g4") + lit(1e-5))
    val p4 = sqrt(col("c"))
    val f1 = clip01(lit(-50.0) * p1 + lit(2.75))
    val f2 = clip01(lit(-5000.0) * p2 + lit(3.0))
    val f3 = clip01(lit(-2.5) * p3 + lit(4.0))
    val f4 = clip01(lit(-10.0) * p4 + lit(6.3))
    val fRaw = sqrt((f1 * f1 + f2 * f2 + f3 * f3 + f4 * f4) / 4.0)
    joined.select(col("line"), col("sample"),
      f1.as("f1"), f2.as("f2"), f3.as("f3"), f4.as("f4"),
      when(fRaw < 0.0015, 0.0).otherwise(fRaw).as("f"))
  }

  /** R14 — nearest-center alignment for configs whose window-center grids
    * differ (gradients.py:229-245 `sel(..., method='nearest')`): snap each
    * row's (line, sample) onto the regular reference-center grid
    * {origin + k·step} and re-aggregate whatever measure columns ride along
    * (histogram weights sum per bin). Shared-grid configs make this a no-op
    * (the multiscale fan-out's case); differing grids get a deterministic
    * half-up snap. Pure column arithmetic + one groupBy — no join.
    */
  def alignToCenters(df: DataFrame, step: Double, keyCols: Seq[String],
      sumCols: Seq[String], originLine: Double = 0.0, originSample: Double = 0.0): DataFrame = {
    // the int cast below would silently collide distinct centers on a
    // fractional grid — the snapped value must itself be integral
    require(step == math.rint(step) && step > 0 &&
      originLine == math.rint(originLine) && originSample == math.rint(originSample),
      s"alignToCenters requires an integral grid (step=$step, origins=($originLine,$originSample))")
    def snap(c: Column, origin: Double): Column =
      (floor((c - lit(origin)) / lit(step) + lit(0.5)) * lit(step) + lit(origin)).cast("int")
    df.withColumn("line", snap(col("line"), originLine))
      .withColumn("sample", snap(col("sample"), originSample))
      .groupBy((Seq(col("line"), col("sample")) ++ keyCols.map(col)): _*)
      .agg(sumCols.head match { case h => sum(col(h)).as(h) },
        sumCols.tail.map(c => sum(col(c)).as(c)): _*)
  }

  /** R13: every (downscale, window size) config's Scharr pixels keyed by
    * window, `cfg` = the config's index. ReuseExchange cannot share the
    * per-downscale Scharr grid across union branches (closure identity
    * differs), so with >1 window size it is persisted and computed once. */
  private def windowPixels(grid: DataFrame, downscales: Seq[Int], windowSizes: Seq[Int],
      tileSize: Int): DataFrame =
    downscales.zipWithIndex.flatMap { case (f, i) =>
      val g2 = scharrG2(if (f == 1) grid else coarsen(grid, f).drop("n_px"), tileSize)
      val shared = if (windowSizes.length == 1) g2 else graft.core.CacheLife.scoped(
        g2.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      windowSizes.zipWithIndex.map { case (ws, j) =>
        shared.select((col("line") / (ws / f)).cast("int").as("win_line"),
          (col("sample") / (ws / f)).cast("int").as("win_sample"),
          lit(i * windowSizes.length + j).as("cfg"), col("g2r"), col("g2i"))
      }
    }.reduce(_ unionAll _)

  /** R13: multiscale fan-out — every config's histogram with its config as
    * ordinary columns; all configs' pixels are grouped once by window key. */
  def multiscale(grid: DataFrame, downscales: Seq[Int], windowSizes: Seq[Int],
      tileSize: Int = 64): DataFrame = {
    val configs = for (f <- downscales; ws <- windowSizes) yield (f, ws)
    histogramRows(windowPixels(grid, downscales, windowSizes, tileSize),
        "win_line", "win_sample", configs.length)
      .withColumn("downscale_factor", element_at(typedLit(configs.map(_._1)), col("cfg") + 1))
      .withColumn("window_size", element_at(typedLit(configs.map(_._2)), col("cfg") + 1))
      .drop("cfg")
  }

  /** R10 → R17 → R15 → R16 in one kernel call per window: each downscale's
    * [[windowHistogram]], their mean over the configs where a bin is present
    * (R17), [[circCascade]] and [[peakOf]]. One row per window with m > 0. */
  def streakPeaks(grid: DataFrame, downscales: Seq[Int], windowSize: Int): DataFrame =
    perGroup(windowPixels(grid, downscales, Seq(windowSize), 64), "win_line", "win_sample",
        Seq(col("cfg"), col("g2r"), col("g2i")), "peak_bin", "peak_weight", "streak_dir_rad") { rows =>
      val hs = histogramsOf(rows, downscales.length)
      val present = Array.tabulate(NAngles)(bin => hs.count(_._2(bin) > 0))
      val w = Array.tabulate(NAngles)(bin => if (present(bin) == 0) 0.0 else
        hs.foldLeft(0.0)((s, h) => if (h._2(bin) > 0) s + h._1(bin) else s) / present(bin))
      val sup = present.map(_ > 0)
      circCascade(w, sup, Seq(1, 2, 4))
      peakOf(w, sup).toSeq
    }
}
