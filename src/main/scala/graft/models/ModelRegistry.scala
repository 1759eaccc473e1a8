package graft.models

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Gmf

/** A materialized model lookup table over (incidence, wspd[, phi]).
  *
  * Dense row-major values `v(i*nW*nPhi + w*nPhi + p)`; axes inclusive of both
  * range endpoints, matching the reference's
  * `np.linspace(r0, r1, round((r1-r0)/step)+1)` (windspeed/gmfs.py:385-390).
  * Sized ≤ a few MB (BASELINE.md) — always broadcast, never joined.
  */
final case class Lut(
    inc: Array[Double],
    wspd: Array[Double],
    phi: Array[Double], // empty for crosspol 2-D LUTs
    values: Array[Double],
    units: String) extends Serializable {

  def hasPhi: Boolean = phi.nonEmpty

  def apply(i: Int, w: Int, p: Int = 0): Double =
    values(((i * wspd.length) + w) * math.max(phi.length, 1) + p)

  /** Index of the nearest axis value — the reference inverts against the
    * *nearest* incidence slice, not an interpolated one (windspeed.py:212-213). */
  def nearestInc(v: Double): Int = Lut.nearestIndex(inc, v)

  /** M6 — multilinear regrid onto new axes (the reference's
    * `lut.interp(..., bounds_error=True)` low→high path, models.py:154-167).
    * Bi-linear for 2-D crosspol LUTs, tri-linear for 3-D copol.
    */
  def regrid(inc2: Array[Double], wspd2: Array[Double], phi2: Array[Double]): Lut = {
    def locate(axis: Array[Double], x: Double): (Int, Double) = {
      require(x >= axis.head - 1e-9 && x <= axis.last + 1e-9,
        s"regrid point $x outside [${axis.head}, ${axis.last}] (bounds_error=True)")
      var i = java.util.Arrays.binarySearch(axis, x)
      if (i >= 0) (math.min(i, axis.length - 2), if (i >= axis.length - 1) 1.0 else 0.0)
      else {
        i = -i - 2 // insertion point - 1
        val i0 = math.max(0, math.min(i, axis.length - 2))
        (i0, (x - axis(i0)) / (axis(i0 + 1) - axis(i0)))
      }
    }
    val nP2 = math.max(phi2.length, 1)
    val out = new Array[Double](inc2.length * wspd2.length * nP2)
    var ii = 0
    while (ii < inc2.length) {
      val (i0, fi) = locate(inc, inc2(ii))
      var wi = 0
      while (wi < wspd2.length) {
        val (w0, fw) = locate(wspd, wspd2(wi))
        var pi = 0
        while (pi < nP2) {
          val v =
            if (!hasPhi) {
              val v00 = apply(i0, w0); val v01 = apply(i0, w0 + 1)
              val v10 = apply(i0 + 1, w0); val v11 = apply(i0 + 1, w0 + 1)
              (v00 * (1 - fw) + v01 * fw) * (1 - fi) + (v10 * (1 - fw) + v11 * fw) * fi
            } else {
              val (p0, fp) = locate(phi, phi2(pi))
              def c(di: Int, dw: Int): Double =
                apply(i0 + di, w0 + dw, p0) * (1 - fp) + apply(i0 + di, w0 + dw, p0 + 1) * fp
              (c(0, 0) * (1 - fw) + c(0, 1) * fw) * (1 - fi) +
                (c(1, 0) * (1 - fw) + c(1, 1) * fw) * fi
            }
          out(((ii * wspd2.length) + wi) * nP2 + pi) = v
          pi += 1
        }
        wi += 1
      }
      ii += 1
    }
    Lut(inc2, wspd2, if (hasPhi) phi2 else Array.empty, out, units)
  }
}

object Lut {
  def nearestIndex(axis: Array[Double], v: Double): Int = {
    var best = 0; var bestD = Double.MaxValue; var i = 0
    while (i < axis.length) {
      val d = math.abs(axis(i) - v)
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  def linspaceByStep(lo: Double, hi: Double, step: Double): Array[Double] = {
    val n = math.round((hi - lo) / step).toInt + 1
    Array.tabulate(n)(k => lo + (hi - lo) * k / (n - 1))
  }
}

/** Registered geophysical model: metadata + scalar evaluator + LUT builder.
  *
  * Mirrors the reference registry semantics (models.py:15-68): validity
  * ranges, low/high-res grid steps, alias resolution by priority
  * (models.py:477-482 — lowest priority number wins the short alias).
  */
final case class Model(
    name: String,
    pol: String,
    units: String,
    fn: (Double, Double, Double) => Double,
    hasPhi: Boolean,
    incRange: (Double, Double) = (16.0, 66.0),
    wspdRange: (Double, Double) = (0.2, 50.0),
    phiRange: (Double, Double) = (0.0, 180.0),
    priority: Int = 3) {

  def shortName: String = name.stripPrefix("gmf_")

  def eval(inc: Double, wspd: Double, phi: Double): Double = fn(inc, wspd, phi)

  /** Materialize the LUT on the driver. Low-res steps (1.0, 0.2, 2.5) by
    * default like the reference (models.py:42-44); high-res (0.1, 0.1, 1.0).
    */
  def toLut(highRes: Boolean = false): Lut = {
    val (incStep, wspdStep, phiStep) =
      if (highRes) (0.1, 0.1, 1.0) else (1.0, 0.2, 2.5)
    val incAxis = Lut.linspaceByStep(incRange._1, incRange._2, incStep)
    val wspdAxis = Lut.linspaceByStep(wspdRange._1, wspdRange._2, wspdStep)
    val phiAxis = if (hasPhi) Lut.linspaceByStep(phiRange._1, phiRange._2, phiStep)
                  else Array.empty[Double]
    val nP = math.max(phiAxis.length, 1)
    val values = new Array[Double](incAxis.length * wspdAxis.length * nP)
    var i = 0
    while (i < incAxis.length) {
      var w = 0
      while (w < wspdAxis.length) {
        var p = 0
        while (p < nP) {
          values(((i * wspdAxis.length) + w) * nP + p) =
            fn(incAxis(i), wspdAxis(w), if (hasPhi) phiAxis(p) else 0.0)
          p += 1
        }
        w += 1
      }
      i += 1
    }
    Lut(incAxis, wspdAxis, phiAxis, values, units)
  }

  /** The reference's DEFAULT to_lut path (models.py:82-174 + gmfs.py:364-366):
    * evaluate on the cheap low-res grid, then multilinearly interpolate to
    * the high-res axes — "the lut is generated at low res, for improved
    * performance".
    */
  def toLutInterpolated(): Lut = {
    val low = toLut(highRes = false)
    val inc2 = Lut.linspaceByStep(incRange._1, incRange._2, 0.1)
    val wspd2 = Lut.linspaceByStep(wspdRange._1, wspdRange._2, 0.1)
    val phi2 = if (hasPhi) Lut.linspaceByStep(phiRange._1, phiRange._2, 1.0)
               else Array.empty[Double]
    low.regrid(inc2, wspd2, phi2)
  }
}

/** Global model registry (reference: Model._available_models, models.py:23). */
object ModelRegistry {
  private val models = new ConcurrentHashMap[String, Model]()

  def register(m: Model): Model = { models.put(m.name, m); m }

  /** Drop a registration (a scoped model, e.g. one probed for a check). */
  def unregister(name: String): Unit = models.remove(name)

  /** M2 registration-time probing (gmfs.py:128-166) — derive metadata from
    * the function itself instead of trusting the caller:
    *  - scalar check: the function must evaluate at (35.0, 0.2, 90.0)
    *    (gmfs.py:134 — any throw propagates);
    *  - phi periodicity guess: if |f(phi) − f(−phi)| < 1e-15 for ALL probe
    *    phis {0, 90, 180, 270}, opposite directions coincide → phi_range
    *    [0, 180], else [0, 360]. NOTE: the reference (gmfs.py:145-158) tests
    *    `min(diffs) < 1e-15`, but its probe list includes phi=0 whose diff
    *    is identically 0 — the check is vacuously true and every model gets
    *    [0, 180]. We implement the commented intent ("if phi is [0,180],
    *    opposite dir will give the same sigma0") with `max`;
    *  - units sanity (gmfs.py:160-162): dB sigma0 at low wind should be
    *    negative, linear positive — mismatch logs a warning (like the
    *    reference, it does NOT reject).
    */
  def registerProbed(name: String, pol: String, units: String,
      fn: (Double, Double, Double) => Double,
      wspdRange: (Double, Double) = (0.2, 50.0), priority: Int = 3): Model = {
    val probe = fn(35.0, 0.2, 90.0) // scalar check — let it throw
    // 45/135 added beyond the reference's {0,90,180,270}: diff(0) is
    // identically 0, diff(180) vanishes for any 360-periodic formula, and
    // diff(90) == diff(270) — without off-axis probes a sin(2·phi)
    // asymmetry (zero at every listed angle) would be misclassified
    val phiProbes = Seq(0.0, 45.0, 90.0, 135.0, 180.0, 270.0)
    val diffs = phiProbes.map(p => math.abs(fn(35.0, 0.2, p) - fn(35.0, 0.2, -p)))
    val phiRange = if (diffs.max < 1e-15) (0.0, 180.0) else (0.0, 360.0)
    val sigma0s = probe +: phiProbes.map(fn(35.0, 0.2, _))
    if ((units == "dB" && sigma0s.min > 0) || (units == "linear" && sigma0s.min < 0))
      System.err.println(s"[registry] possible bad units '$units' for gmf $name")
    register(Model(name, pol, units, fn, hasPhi = true,
      wspdRange = wspdRange, phiRange = phiRange, priority = priority))
  }

  /** Probing registration for phi-less (crosspol) functions — the
    * reference's `phi=None` acceptance branch (gmfs.py:138-142). */
  def registerProbed(name: String, pol: String, units: String,
      fn: (Double, Double) => Double, wspdRange: (Double, Double)): Model = {
    val probe = fn(35.0, 3.0) // scalar check
    if ((units == "dB" && probe > 0) || (units == "linear" && probe < 0))
      System.err.println(s"[registry] possible bad units '$units' for gmf $name")
    register(Model(name, pol, units, (i, w, _) => fn(i, w), hasPhi = false,
      wspdRange = wspdRange))
  }

  /** Name or alias → model (models.py:510-538). */
  def get(name: String): Model = {
    Option(models.get(name))
      .orElse(byAlias.get(name))
      .getOrElse(throw new NoSuchElementException(s"model $name not registered"))
  }

  def all: Seq[Model] = models.values.asScala.toSeq.sortBy(_.name)

  /** Lowest priority number wins the alias (models.py:477-482). */
  private def byAlias: Map[String, Model] =
    all.sortBy(m => (m.priority, m.name)).groupBy(_.shortName).map { case (k, v) => k -> v.head }

  /** Driver-side catalog, exposed as a DataFrame for SQL browsing (models.py:453-507). */
  def availableModels(spark: SparkSession, pol: Option[String] = None): DataFrame = {
    import spark.implicits._
    val rows = all
      .filter(m => pol.forall(_ == m.pol))
      .map(m => (m.shortName, m.name, m.pol, m.units, m.hasPhi,
        m.incRange._1, m.incRange._2, m.wspdRange._1, m.wspdRange._2))
    rows.toDF("alias", "name", "pol", "units", "has_phi",
      "inc_min", "inc_max", "wspd_min", "wspd_max")
  }

  /** Broadcast a LUT once per session for executor-side kernels. */
  def broadcastLut(spark: SparkSession, name: String, highRes: Boolean = false): Broadcast[Lut] =
    spark.sparkContext.broadcast(get(name).toLut(highRes))

  // --- built-in registrations (wspd ranges per gmfs.py:89-95 pol classes) ---
  private def copol(name: String, fn: (Double, Double, Double) => Double, pol: String = "VV"): Model =
    Model(name, pol, "linear", fn, hasPhi = true, wspdRange = (0.2, 50.0))
  private def crosspol(name: String, fn: (Double, Double) => Double): Model =
    Model(name, "VH", "linear", (i, w, _) => fn(i, w), hasPhi = false, wspdRange = (3.0, 80.0))

  register(copol("gmf_cmod5", Gmf.cmod5))
  register(copol("gmf_cmod5n", Gmf.cmod5n))
  register(copol("gmf_cmod5n_pr_zhangA", Gmf.cmod5nPrZhangA, pol = "HH"))
  register(copol("gmf_cmod5n_pr_mouche1", Gmf.cmod5nPrMouche1, pol = "HH"))
  register(copol("gmf_cmodifr2", Gmf.cmodifr2))
  register(crosspol("gmf_rs2_v2", Gmf.rs2V2))
  register(crosspol("gmf_s1_v2", Gmf.s1V2))
  register(crosspol("gmf_rcm_noaa", Gmf.rcmNoaa))
  register(crosspol("gmf_s1_v3_ew_rec", Gmf.s1V3EwRec))
  register(crosspol("gmf_rs2_v3", Gmf.rs2V3))
  register(crosspol("gmf_rcm_v3", Gmf.rcmV3))
  register(crosspol("gmf_rcm_v4", Gmf.rcmV4))
  register(crosspol("gmf_rs2_v4", Gmf.rs2V4))
  register(crosspol("gmf_dummy", Gmf.dummy))
}
