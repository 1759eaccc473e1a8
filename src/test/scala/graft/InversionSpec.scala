package graft

import org.apache.spark.sql.functions._
import graft.functions.Gmf
import graft.models.{Lut, ModelRegistry}
import graft.operators.Inversion
import graft.operators.Inversion.{CellCount, InvLuts, PxIn, PxOut}

/** Forward-model recovery property (FIXTURES.md §3): sigma0 generated from a
  * GMF at known wind must invert back to that wind within one LUT step.
  * The reference asserts types only (test_xsarsea.py:109-143); this is the
  * golden bar it lacks.
  */
class InversionSpec extends SparkSpec {

  def db(x: Double): Double = 10.0 * math.log10(x + 1e-15)

  lazy val crLut: InvLuts = {
    val cr = Inversion.toDbValues(ModelRegistry.get("gmf_s1_v2").toLut(highRes = true))
    InvLuts(Inversion.toDbValues(ModelRegistry.get("gmf_cmod5n").toLut()),
      coPhi180 = true,
      ModelRegistry.get("gmf_cmod5n").toLut().phi.map(p => math.cos(math.toRadians(p))),
      ModelRegistry.get("gmf_cmod5n").toLut().phi.map(p => math.sin(math.toRadians(p))),
      cr)
  }

  test("crosspol inversion recovers forward-model wind within one LUT step") {
    val nan = Double.NaN
    for (inc <- Seq(18.0, 30.0, 45.0); truth <- Seq(3.5, 7.0, 15.0, 42.0, 79.0)) {
      val s0 = db(Gmf.s1V2(inc, truth))
      val out = Inversion.invertOne(crLut, 0.1,
        PxIn(0, 0, inc, nan, s0, 0.1, nan, nan))
      assert(math.abs(out.crRe - truth) <= 0.1 + 1e-9,
        s"inc=$inc truth=$truth got ${out.crRe}")
      assert(out.crIm == 0.0) // no copol → no direction (windspeed.py:275)
      assert(out.coRe.isNaN && out.coIm.isNaN)
    }
  }

  test("copol inversion recovers speed and direction with ancillary wind") {
    for (inc <- Seq(20.0, 35.0); wspd <- Seq(5.0, 12.0, 30.0); phi <- Seq(30.0, 120.0)) {
      val s0co = db(Gmf.cmod5n(inc, wspd, phi))
      val ancRe = wspd * math.cos(math.toRadians(phi))
      val ancIm = wspd * math.sin(math.toRadians(phi))
      val out = Inversion.invertOne(crLut, 0.1,
        PxIn(0, 0, inc, s0co, Double.NaN, 0.1, ancRe, ancIm))
      val gotW = math.hypot(out.coRe, out.coIm)
      val gotPhi = math.toDegrees(math.atan2(out.coIm, out.coRe))
      assert(math.abs(gotW - wspd) <= 0.2 + 1e-9, s"speed: inc=$inc w=$wspd phi=$phi got $gotW")
      assert(math.abs(gotPhi - phi) <= 2.5 + 1e-9, s"dir: inc=$inc w=$wspd phi=$phi got $gotPhi")
    }
  }

  test("phi ambiguity resolves toward ancillary sign (windspeed.py:234-245)") {
    val inc = 30.0; val wspd = 12.0; val phi = 60.0
    val s0co = db(Gmf.cmod5n(inc, wspd, phi))
    // ancillary pointing to -phi: inversion must choose the -phi branch
    val out = Inversion.invertOne(crLut, 0.1,
      PxIn(0, 0, inc, s0co, Double.NaN, 0.1,
        wspd * math.cos(math.toRadians(-phi)), wspd * math.sin(math.toRadians(-phi))))
    assert(out.coIm < 0.0, s"expected negative-phi solution, got (${out.coRe}, ${out.coIm})")
  }

  test("NaN propagation rules (windspeed.py:197-207)") {
    val nan = Double.NaN
    val o1 = Inversion.invertOne(crLut, 0.1, PxIn(0, 0, nan, -10.0, -25.0, 0.1, 1.0, 1.0))
    assert(o1.coRe.isNaN && o1.crRe.isNaN) // NaN incidence → all NaN
    val o2 = Inversion.invertOne(crLut, 0.1, PxIn(0, 0, 30.0, -10.0, -25.0, 0.1, nan, nan))
    assert(o2.coRe.isNaN && o2.crRe.isNaN) // copol present + NaN ancillary → NaN
  }

  test("dualpol blend keeps copol wind below 5 m/s (windspeed.py:424-428)") {
    import spark.implicits._
    val df = Seq(
      (3.0, 0.0, 3.0, 8.0, 0.0, 8.0),   // ws_co < 5 → copol kept
      (10.0, 0.0, 10.0, 9.0, 1.0, 9.1)  // both ≥ 5 → dual kept
    ).toDF("coRe", "coIm", "coWspd", "crRe", "crIm", "crWspd")
    val r = Inversion.dualpolBlend(df).select("wspd").as[Double].collect()
    assert(math.abs(r(0) - 3.0) < 1e-12)
    assert(math.abs(r(1) - 9.1) < 1e-12)
  }

  test("phi-180 flag: set for a [0, 180] axis, clear for a probed asymmetric GMF") {
    val cmod5nLut = ModelRegistry.get("gmf_cmod5n").toLut()
    assert(cmod5nLut.phi.last - cmod5nLut.phi.head == 180.0)
    assert(Inversion.invLuts(Inversion.toDbValues(cmod5nLut), s1v2Db).coPhi180)
    // cmod5n with a sin(phi) term: f(phi) != f(-phi), so probing registers
    // it over [0, 360], and an upwind/downwind-folded inversion would
    // misread a pixel blowing toward 180..360 degrees
    val asym = ModelRegistry.registerProbed("inv_probe_asym", "VV", "linear",
      (i: Double, w: Double, p: Double) =>
        Gmf.cmod5n(i, w, p) * (1 + 0.3 * math.sin(math.toRadians(p))))
    try {
      assert(asym.phiRange == ((0.0, 360.0)))
      val luts = Inversion.invLuts(Inversion.toDbValues(asym.toLut()), s1v2Db)
      assert(!luts.coPhi180)
      for (inc <- Seq(25.0, 40.0); wspd <- Seq(6.0, 14.0); phi <- Seq(60.0, 240.0, 300.0)) {
        val r = math.toRadians(phi)
        val s0co = db(asym.fn(inc, wspd, phi))
        val out = Inversion.invertOne(luts, 0.1,
          PxIn(0, 0, inc, s0co, Double.NaN, 0.1, wspd * math.cos(r), wspd * math.sin(r)))
        val gotW = math.hypot(out.coRe, out.coIm)
        val gotPhi = math.toDegrees(math.atan2(out.coIm, out.coRe))
        val dPhi = ((gotPhi - phi) % 360 + 540) % 360 - 180
        assert(math.abs(gotW - wspd) <= 0.2 + 1e-9, s"speed: inc=$inc w=$wspd phi=$phi got $gotW")
        assert(math.abs(dPhi) <= 2.5 + 1e-9, s"dir: inc=$inc w=$wspd phi=$phi got $gotPhi")
      }
    } finally ModelRegistry.unregister(asym.name)
  }

  // ---- the ring-pruned copol argmin against a full scan ----

  /** The kernel with a full copol scan: every cell of the slice in index
    * order, the first minimum wins (numpy argmin). The pruned kernel must
    * return exactly this, field for field. */
  def bruteOne(luts: InvLuts, dsigCo: Double, px: PxIn): PxOut = {
    val nan = Double.NaN
    if (px.inc.isNaN) return PxOut(px.okey, px.lnum, nan, nan, nan, nan, nan, nan)
    val hasCo = !px.s0coDb.isNaN && luts.co.wspd.nonEmpty
    val hasAnc = !(px.ancRe.isNaN || px.ancIm.isNaN)
    if (hasCo && !hasAnc) return PxOut(px.okey, px.lnum, nan, nan, nan, nan, nan, nan)
    var coRe = nan; var coIm = nan; var coWspd = nan
    if (hasCo) {
      val co = luts.co
      val iInc = co.nearestInc(px.inc)
      val mAnt = px.ancRe
      val mAzi = if (luts.coPhi180) math.abs(px.ancIm) else px.ancIm
      var bestJ = Double.MaxValue; var bestW = 0; var bestP = 0
      for (w <- co.wspd.indices; p <- co.phi.indices) {
        val uc = co.wspd(w) * luts.coCos(p) - mAnt
        val vc = co.wspd(w) * luts.coSin(p) - mAzi
        val ds = (co(iInc, w, p) - px.s0coDb) / dsigCo
        val j = (uc / 2.0) * (uc / 2.0) + (vc / 2.0) * (vc / 2.0) + ds * ds
        if (j < bestJ) { bestJ = j; bestW = w; bestP = p }
      }
      coWspd = co.wspd(bestW)
      val re = coWspd * math.cos(math.toRadians(co.phi(bestP)))
      val im = coWspd * math.sin(math.toRadians(co.phi(bestP)))
      def angle(bRe: Double, bIm: Double): Double =
        math.atan2(px.ancIm * bRe - px.ancRe * bIm, px.ancRe * bRe + px.ancIm * bIm)
      coRe = re
      coIm = if (!luts.coPhi180 || math.abs(angle(re, im)) <= math.abs(angle(re, -im))) im else -im
    }
    var crRe = nan; var crIm = nan; var crWspd = nan
    if (!px.s0crDb.isNaN && !px.dsigCr.isNaN) {
      val cr = luts.cr
      val iInc = cr.nearestInc(px.inc)
      var bestJ = Double.MaxValue; var bestW = 0
      for (w <- cr.wspd.indices) {
        val ds = (cr(iInc, w) - px.s0crDb) / px.dsigCr
        val dw = (cr.wspd(w) - coWspd) / 2.0
        val j = if (coWspd.isNaN) ds * ds else ds * ds + dw * dw
        if (j < bestJ) { bestJ = j; bestW = w }
      }
      crWspd = cr.wspd(bestW)
      val phiDual = if (coWspd.isNaN) 0.0 else math.atan2(coIm, coRe)
      crRe = crWspd * math.cos(phiDual)
      crIm = crWspd * math.sin(phiDual)
    }
    PxOut(px.okey, px.lnum, coRe, coIm, coWspd, crRe, crIm, crWspd)
  }

  /** Bit-for-bit equality, NaN equal to NaN. */
  def sameBits(a: PxOut, b: PxOut): Boolean = {
    def bits(o: PxOut): Seq[Long] = Seq(o.okey, o.lnum) ++
      Seq(o.coRe, o.coIm, o.coWspd, o.crRe, o.crIm, o.crWspd).map(java.lang.Double.doubleToLongBits)
    bits(a) == bits(b)
  }

  def assertMatchesBrute(luts: InvLuts, dsigCo: Double, px: PxIn): PxOut = {
    val got = Inversion.invertOne(luts, dsigCo, px)
    val want = bruteOne(luts, dsigCo, px)
    assert(sameBits(got, want), s"$px (dsig $dsigCo): pruned $got, full scan $want")
    got
  }

  val cmod5n = ModelRegistry.get("gmf_cmod5n")
  lazy val s1v2Db: Lut = Inversion.toDbValues(ModelRegistry.get("gmf_s1_v2").toLut())

  /** cmod5n copol LUTs: low-res over the full incidence range and high-res
    * over a narrow one, each with the phi-180 axis (ambiguity resolved) and
    * a [0, 360] one read as non-symmetric. */
  lazy val copolLuts: Seq[(String, InvLuts)] = Seq(
    ("low-res phi180", cmod5n.toLut(), true),
    ("low-res phi360", cmod5n.copy(phiRange = (0.0, 360.0)).toLut(), false),
    ("high-res phi180", cmod5n.copy(incRange = (30.0, 32.0)).toLut(highRes = true), true),
    ("high-res phi360", cmod5n.copy(incRange = (30.0, 31.0), phiRange = (0.0, 360.0))
      .toLut(highRes = true), false)
  ).map { case (k, l, phi180) =>
    k -> Inversion.invLuts(Inversion.toDbValues(l), s1v2Db).copy(coPhi180 = phi180)
  }

  test("pruned copol argmin equals a full scan on random noisy pixels") {
    val rnd = new scala.util.Random(20261019)
    for ((name, luts) <- copolLuts) {
      val (i0, i1) = (luts.co.inc.head, luts.co.inc.last)
      var cells = 0L
      for (k <- 0 until 400) {
        val inc = i0 - 1.0 + rnd.nextDouble() * (i1 - i0 + 2.0)
        val w = 0.3 + rnd.nextDouble() * 45.0
        val phi = rnd.nextDouble() * 360.0
        val px = PxIn(k, 0, inc,
          db(Gmf.cmod5n(inc, w, phi)) + rnd.nextGaussian() * 0.5,
          db(Gmf.s1V2(inc, math.max(w, 3.0))) + rnd.nextGaussian() * 0.8, 0.1,
          w * math.cos(math.toRadians(phi)) + rnd.nextGaussian() * 2.0,
          w * math.sin(math.toRadians(phi)) + rnd.nextGaussian() * 2.0)
        val dsigCo = Seq(0.05, 0.1, 1.0)(k % 3)
        val n = new CellCount
        val got = Inversion.invertOne(luts, dsigCo, px, n)
        assert(sameBits(got, bruteOne(luts, dsigCo, px)), s"$name: $px (dsig $dsigCo)")
        cells += n.n
      }
      val slice = luts.co.wspd.length * luts.co.phi.length
      assert(cells > 0 && cells < 400L * slice, s"$name: no pruning ($cells cells)")
    }
  }

  /** One incidence, speeds 0..4, phi 0/90/180/270 with exact unit vectors,
    * so wind terms are exact quarters; every cell costs J ≥ 100 unless
    * `planted` sets its dB value (σ₀ = 0 dB, dsig = 1: J = wind + value²). */
  def tieLuts(planted: ((Int, Int), Double)*): InvLuts = {
    val values = Array.fill(20)(10.0)
    for (((w, p), v) <- planted) values(w * 4 + p) = v
    InvLuts(Lut(Array(30.0), Array(0.0, 1.0, 2.0, 3.0, 4.0), Array(0.0, 90.0, 180.0, 270.0),
      values, "dB"), coPhi180 = false, Array(1.0, 0.0, -1.0, 0.0), Array(0.0, 1.0, 0.0, -1.0),
      s1v2Db)
  }

  test("exact ties keep numpy's first-index rule whatever the ring order") {
    // |anc| = 2: ring 2 is visited first, then rings 1 and 3, then 0 and 4
    val px = PxIn(0, 0, 30.0, 0.0, Double.NaN, 0.1, 2.0, 0.0)
    def best(luts: InvLuts): (Double, Double, Double) = {
      val o = assertMatchesBrute(luts, 1.0, px)
      (o.coWspd, o.coRe, o.coIm)
    }
    // J = 1 at (2, 0°) [wind 0 + 1²] and at (0, 0°) [wind 1 + 0]: the later
    // ring holds the lower index and must win
    assert(best(tieLuts((2, 0) -> 1.0, (0, 0) -> 0.0))._1 == 0.0)
    // J = 1 at (2, 0°) and at (4, 0°) [wind 1 + 0]: the first ring keeps it
    assert(best(tieLuts((2, 0) -> 1.0, (4, 0) -> 0.0)) == ((2.0, 2.0, 0.0)))
    // J = 0.25 at (1, 0°) and (3, 0°), rings equally far from |anc|
    assert(best(tieLuts((1, 0) -> 0.0, (3, 0) -> 0.0))._1 == 1.0)
    assert(best(tieLuts((3, 0) -> 0.0, (1, 0) -> 0.0))._1 == 1.0)
    // J = 2 at (2, 90°) and (2, 270°) within one ring: 90° wins
    val (w, _, im) = best(tieLuts((2, 1) -> 0.0, (2, 3) -> 0.0))
    assert(w == 2.0 && im > 0.0)
  }

  test("NaN σ₀, NaN LUT cells, extreme and infinite ancillary match a full scan") {
    val nan = Double.NaN; val inf = Double.PositiveInfinity
    val rnd = new scala.util.Random(7)
    val holed = copolLuts.take(2).map { case (name, l) =>
      val v = l.co.values.map(x => if (rnd.nextDouble() < 0.1) nan else x)
      s"$name, 10% NaN cells" -> l.copy(co = l.co.copy(values = v))
    }
    val allNaN = copolLuts.take(1).map { case (name, l) =>
      s"$name, all NaN" -> l.copy(co = l.co.copy(values = l.co.values.map(_ => nan)))
    }
    val ancs = Seq((0.0, 0.0), (-0.0, 0.0), (0.05, -0.03), (70.0, -30.0), (1e6, 1.0),
      (inf, 0.0), (-inf, 3.0), (2.0, inf), (inf, -inf), (7.0, -4.0))
    for ((name, luts) <- copolLuts ++ holed ++ allNaN; inc <- Seq(15.0, 33.3, 70.0);
         s0 <- Seq(-18.0, -3.0, nan, -inf); (re, im) <- ancs) {
      val o = assertMatchesBrute(luts, 0.1, PxIn(1, 2, inc, s0, -25.0, 0.1, re, im))
      if (name.endsWith("all NaN") && !s0.isNaN) assert(o.coWspd == luts.co.wspd(0))
    }
    // the true best cell itself NaN: the argmin moves to the runner-up
    val luts = copolLuts.head._2
    val px = PxIn(0, 0, 35.0, db(Gmf.cmod5n(35.0, 10.0, 45.0)), nan, 0.1,
      10.0 * math.cos(math.toRadians(45.0)), 10.0 * math.sin(math.toRadians(45.0)))
    val first = assertMatchesBrute(luts, 0.1, px)
    val iBest = ((luts.co.nearestInc(35.0) * luts.co.wspd.length +
      luts.co.wspd.indexOf(first.coWspd)) * luts.co.phi.length +
      luts.co.phi.indexWhere(p => math.abs(p - 45.0) < 1e-9))
    val v = luts.co.values.clone(); v(iBest) = nan
    val second = assertMatchesBrute(luts.copy(co = luts.co.copy(values = v)), 0.1, px)
    assert(!sameBits(first, second))
  }

  test("a forward-modelled pixel visits under a quarter of its LUT slice") {
    val luts = Inversion.buildLuts(spark, Some("gmf_cmod5n"), None, highRes = false)
    val slice = luts.value.co.wspd.length * luts.value.co.phi.length
    val pxs = for (inc <- Seq(20.0, 35.0, 50.0); w <- Seq(3.0, 8.0, 15.0, 30.0);
                   phi <- Seq(0.0, 60.0, 135.0)) yield {
      val r = math.toRadians(phi)
      (0L, 0L, inc, db(Gmf.cmod5n(inc, w, phi)), Double.NaN, Double.NaN,
        w * math.cos(r), w * math.sin(r))
    }
    for (p <- pxs) {
      val n = new CellCount
      Inversion.invertOne(luts.value, 0.1, (PxIn.apply _).tupled(p), n)
      assert(n.n > 0 && n.n < slice / 4, s"$p visited ${n.n} of $slice cells")
    }
    // Inversion.invert sums the same counts into the session's accumulator
    import spark.implicits._
    val df = pxs.toDF("okey", "lnum", "inc", "s0co_db", "s0cr_db", "dsig_cr", "anc_re", "anc_im")
    val acc = Inversion.cellsVisited(spark.sparkContext)
    val before = acc.value
    assert(Inversion.invert(df, luts).collect().length == pxs.length)
    val perPixel = (acc.value - before).toDouble / pxs.length
    assert(perPixel > 0 && perPixel < slice / 4, s"$perPixel cells per pixel of $slice")
  }
}
