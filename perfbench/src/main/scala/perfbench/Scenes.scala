package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.models.{Lut, ModelRegistry}
import graft.sources.Nc3
import graft.sources.Nc3.{Dim, Var}

/** Seeded synthetic dual-pol scenes, written with the program's own
  * netCDF-3 writer so each op reads them back through the `owi` source.
  *
  * Besides the .nc file, every scene leaves what the output checkers need
  * and nothing they could take from the program: each variable as a raw
  * little-endian float64 plane (`<stem>.<var>.f64`) and a JSON sidecar with
  * the grid shape and the planted truth of the noise-free control block.
  */
object Scenes {

  final case class Scene(nc: Path, nLines: Int, nSamples: Int)

  // ---------------------------------------------------------- scene-wind

  val WindLines = 128
  val WindSamples = 256
  /** Noise-free control block, in the sea half of every wind scene. */
  val WindCtrl = (WindLines - 24, 8, 16, 32) // (line0, sample0, lines, samples)
  val LandShare = 0.10
  val AncNoiseMs = 1.0    // m/s per ancillary wind component, per pixel
  val AncBiasMs = 0.5     // m/s per component, per scene
  val CoNoiseDb = 0.4     // copol sigma0 error, dB (1 sigma)
  val CrNoiseDb = 0.8     // crosspol sigma0 error, dB (1 sigma)

  /** Standard normal draw (Box-Muller) from a seeded stream. */
  def gauss(r: SplittableRandom): Double = {
    val u1 = math.max(r.nextDouble(), 1e-300)
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Top rows of the scene are land (NaN sigma0): a wavy coast whose mean
    * depth is `share` of the lines. */
  private def coast(r: SplittableRandom, nL: Int, nS: Int, share: Double): Array[Int] = {
    val amp = 0.5 * share * nL
    val ph = r.nextDouble() * 2 * math.Pi
    val cycles = 1 + r.nextInt(3)
    Array.tabulate(nS)(s => math.round(share * nL + amp * math.sin(ph + 2 * math.Pi * cycles * s / nS)).toInt)
  }

  private def incidence(nS: Int): Array[Double] =
    Array.tabulate(nS)(s => 29.0 + 17.0 * s / (nS - 1.0))

  def windScene(seed: Long, k: Int, dir: Path): Scene = {
    val (nL, nS) = (WindLines, WindSamples)
    val r = new SplittableRandom(seed * 1000003L + k * 7919L + 11L)
    val co = ModelRegistry.get("gmf_cmod5n")
    val cr = ModelRegistry.get("gmf_s1_v2")
    val coLut = co.toLut(highRes = false)
    val crLut = cr.toLut(highRes = false)
    val inc = incidence(nS)
    val w0 = 6.0 + 6.0 * r.nextDouble()
    val th0 = 360.0 * r.nextDouble()
    val (pa, pb) = (r.nextDouble() * 6.28, r.nextDouble() * 6.28)
    val heading = -20.0 + 40.0 * r.nextDouble()
    val (biasU, biasV) = (AncBiasMs * gauss(r), AncBiasMs * gauss(r))
    val land = coast(r, nL, nS, LandShare)
    val n = nL * nS
    val s0 = new Array[Double](n); val s0cr = new Array[Double](n)
    val nesz = new Array[Double](n); val incP = new Array[Double](n)
    val ancU = new Array[Double](n); val ancV = new Array[Double](n)
    val head = Array.fill(n)(heading)
    // antenna-convention wind angle (deg) → meteo u/v as the pipeline
    // decodes them (Recipes.windRetrieval: meteo = 270 − atan2(v, u))
    def uv(w: Double, thDeg: Double): (Double, Double) = {
      val a = math.toRadians(180.0 - heading + thDeg)
      (w * math.cos(a), w * math.sin(a))
    }
    val (cl0, cs0, cnl, cns) = WindCtrl
    val ctrl = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    // on-grid speeds kept clear of the 5 m/s blend threshold, each also on
    // the crosspol axis
    val okW = coLut.wspd.indices.filter { i =>
      val w = coLut.wspd(i)
      ((w >= 3.0 && w <= 4.6) || (w >= 5.4 && w <= 25.0)) &&
        crLut.wspd.exists(c => math.abs(c - w) < 1e-9)
    }
    for (l <- 0 until nL; s <- 0 until nS) {
      val i = l * nS + s
      incP(i) = inc(s)
      val nDb = -26.0 + 1.5 * math.cos(2 * math.Pi * s / (nS / 4.0)) + 0.3 * gauss(r)
      nesz(i) = math.pow(10.0, nDb / 10.0)
      val inCtrl = l >= cl0 && l < cl0 + cnl && s >= cs0 && s < cs0 + cns
      if (inCtrl) {
        val wi = okW(r.nextInt(okW.length))
        val pi = r.nextInt(coLut.phi.length)
        val sign = if (r.nextBoolean()) 1.0 else -1.0
        val w = coLut.wspd(wi)
        val th = sign * coLut.phi(pi)
        val (u, v) = uv(w, th)
        ancU(i) = u; ancV(i) = v
        val ii = coLut.nearestInc(inc(s))
        val ci = crLut.wspd.indices.minBy(c => math.abs(crLut.wspd(c) - w))
        s0(i) = coLut(ii, wi, pi)
        s0cr(i) = crLut(crLut.nearestInc(inc(s)), ci)
        // the dual-pol blend keeps the copol speed below 5 m/s
        val expect = if (w < 5.0) w else crLut.wspd(ci)
        ctrl += Map("line" -> l, "sample" -> s, "wspd" -> expect, "dir_deg" -> th)
      } else {
        val w = math.max(0.5, w0 + 3.0 * math.sin(2 * math.Pi * l / nL + pa) *
          math.cos(2 * math.Pi * s / nS + pb))
        val th = th0 + 30.0 * math.sin(2 * math.Pi * (l + s) / (nL + nS) + pa)
        val (u, v) = uv(w, th)
        ancU(i) = u + biasU + AncNoiseMs * gauss(r)
        ancV(i) = v + biasV + AncNoiseMs * gauss(r)
        if (l < land(s)) { s0(i) = Double.NaN; s0cr(i) = Double.NaN }
        else {
          s0(i) = co.eval(inc(s), w, th) * math.pow(10.0, CoNoiseDb * gauss(r) / 10.0)
          s0cr(i) = cr.eval(inc(s), w, 0.0) * math.pow(10.0, CrNoiseDb * gauss(r) / 10.0)
        }
      }
    }
    val planes = Seq("sigma0" -> s0, "sigma0_cr" -> s0cr, "nesz" -> nesz,
      "incidence" -> incP, "ancillary_u" -> ancU, "ancillary_v" -> ancV,
      "ground_heading" -> head)
    write(dir, s"wind-$k", nL, nS, planes, Map(
      "kind" -> "wind", "heading_deg" -> heading, "control" -> ctrl.toSeq,
      "land_px" -> land.map(_.max(0)).sum))
  }

  // ------------------------------------------------------- scene-streaks

  val StreakLines = 128
  val StreakSamples = 128
  val StreakWindow = 16
  val StreakDownscales = Seq(1)
  val StreakAmp = 0.15
  val SpeckleDb = 0.5

  /** Four quadrants, each with its own planted streak orientation and
    * wavelength. The lower-left quadrant is the noise-free control: its
    * background is the detrend reference wind (10 m/s, 45°), so the
    * detrended control is a pure plane wave. The others carry speckle,
    * another background wind and the land strip. */
  def streakScene(seed: Long, k: Int, dir: Path): Scene = {
    val (nL, nS) = (StreakLines, StreakSamples)
    val r = new SplittableRandom(seed * 1000003L + k * 7919L + 23L)
    val co = ModelRegistry.get("gmf_cmod5n")
    val inc = incidence(nS)
    val land = coast(r, nL, nS, LandShare)
    val bins = Array.fill(4)(r.nextInt(graft.operators.Gradients.NAngles))
    val lambdas = Array.tabulate(4)(q => if (q == 2) 12.0 else 8.0 + 6.0 * r.nextDouble())
    val phases = Array.fill(4)(r.nextDouble() * 2 * math.Pi)
    val winds = Array.tabulate(4)(q => if (q == 2) 10.0 else 5.0 + 10.0 * r.nextDouble())
    val dirs = Array.tabulate(4)(q => if (q == 2) 45.0 else 180.0 * r.nextDouble())
    val n = nL * nS
    val s0 = new Array[Double](n); val incP = new Array[Double](n)
    val bgAt = Array.tabulate(4, nS)((q, s) => co.eval(inc(s), winds(q), dirs(q)))
    for (l <- 0 until nL; s <- 0 until nS) {
      val i = l * nS + s
      incP(i) = inc(s)
      val q = (if (l >= nL / 2) 2 else 0) + (if (s >= nS / 2) 1 else 0)
      val th = -math.Pi / 2 + (bins(q) + 0.5) * math.Pi / graft.operators.Gradients.NAngles
      val wave = math.sin(phases(q) + 2 * math.Pi * (s * math.cos(th) + l * math.sin(th)) / lambdas(q))
      val v = bgAt(q)(s) * (1.0 + StreakAmp * wave)
      s0(i) =
        if (q == 2) v
        else if (l < land(s)) Double.NaN
        else v * math.pow(10.0, SpeckleDb * gauss(r) / 10.0)
    }
    val ctrl = Map("line0" -> nL / 2, "sample0" -> 0, "lines" -> nL / 2, "samples" -> nS / 2,
      "bin" -> bins(2))
    write(dir, s"streaks-$k", nL, nS, Seq("sigma0" -> s0, "incidence" -> incP),
      Map("kind" -> "streaks", "control" -> ctrl, "bins" -> bins.toSeq,
        "window" -> StreakWindow, "downscales" -> StreakDownscales))
  }

  // ------------------------------------------------------------- writing

  private def write(dir: Path, stem: String, nL: Int, nS: Int,
      planes: Seq[(String, Array[Double])], meta: Map[String, Any]): Scene = {
    Files.createDirectories(dir)
    val nc = dir.resolve(s"$stem.nc")
    Nc3.write(nc.toString, Seq(Dim("owiAzSize", nL), Dim("owiRaSize", nS)), Nil,
      planes.map { case (name, data) => Var(name, Seq(0, 1), Nil, Nc3.NcDouble, data) })
    planes.foreach { case (name, data) =>
      val bb = ByteBuffer.allocate(data.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      data.foreach(d => bb.putDouble(d))
      Files.write(dir.resolve(s"$stem.$name.f64"), bb.array())
    }
    Json.write(dir.resolve(s"$stem.json"),
      meta ++ Map("lines" -> nL, "samples" -> nS, "vars" -> planes.map(_._1)))
    Scene(nc, nL, nS)
  }

  /** Low-resolution LUTs the wind recipe inverts against, exported with the
    * program's LUT writer for the numpy re-computation. They depend on the
    * program alone, so `dir` is kept per build and a complete export is
    * not repeated. */
  def exportLuts(spark: org.apache.spark.sql.SparkSession, dir: Path): Unit =
    Seq("gmf_cmod5n", "gmf_s1_v2").foreach { m =>
      val d = dir.resolve(s"lut-$m")
      if (!Files.exists(d.resolve("_SUCCESS"))) graft.models.LutIO.writeLut(spark, m, d.toString)
    }

  def lutMb(l: Lut): Double =
    (l.values.length + l.inc.length + l.wspd.length + l.phi.length) * 8 / 1048576.0
}
