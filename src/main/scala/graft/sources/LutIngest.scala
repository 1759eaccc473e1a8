package graft.sources

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession
import graft.models.{Lut, LutIO}

/** S4/S5/S2 — external LUT format converters to the canonical Parquet LUT
  * form, closing the "real user's day one" gap: every upstream LUT format
  * the reference reads becomes ingestible without out-of-band tooling,
  * including both netCDF container formats.
  *
  * Usage (runMain graft.sources.LutIngest ...):
  *   cmod7 <datFile|dir> <outPath>   — KNMI Fortran binary (cmod7.py:19-75)
  *   npy <lutDir> <outPath>          — sarwing npy+pkl directory
  *                                     (pickle_luts.py:20-95; original .pkl
  *                                     axes or pre-converted .npy axes)
  *   nc <file|dir> <outDir>          — xsarsea nc_lut_*.nc files, classic
  *                                     CDF or netCDF-4/HDF5 (sniffed by
  *                                     magic; models.py:350-411, 436-451)
  *
  * Each conversion is per-file and driver-light (LUTs are ≤ a few MB —
  * BASELINE.md); at fleet scale, directories of LUTs convert embarrassingly
  * parallel, one file per task.
  */
object LutIngest {

  /** cmod7: the .dat holds linear sigma0 at low resolution, pol VV. */
  def ingestCmod7(spark: SparkSession, datPath: String, outPath: String): Unit = {
    val f = new File(datPath)
    val dat =
      if (f.isDirectory) new File(f, "gmf_cmod7_vv.dat_little_endian").getPath
      else datPath
    LutIO.writeLutData(spark, Cmod7Dat.read(dat), outPath,
      Map("model" -> "gmf_cmod7", "pol" -> "VV", "resolution" -> "low"))
  }

  /** sarwing npy directory: `sigma.npy` stored (inc, [phi,] wspd) — the
    * reference transposes to (wspd[, phi], inc) then re-transposes to
    * (inc, wspd[, phi]) (pickle_luts.py:27,85) — so the disk layout maps to
    * the canonical layout by swapping the phi/wspd axes.
    *
    * Axes load exactly like the reference (pickle_luts.py:29-40) when the
    * original pickles are present: `incidence_angle.pkl` +
    * `wind_speed_and_direction.pkl` (dual-pol) or `wind_speed.pkl`
    * (crosspol) via the narrow [[Pickle]] reader; pol is inferred from
    * which axis file exists (pickle_luts.py:115-121). Directories
    * pre-converted to `.npy` axes (`incidence_angle.npy`,
    * `wind_speed.npy`, optional `wind_direction.npy`) work too. Values are
    * dB, resolution high.
    */
  def ingestNpy(spark: SparkSession, dir: String, outPath: String): Unit = {
    val sigma = Npy.read(s"$dir/sigma.npy")
    def axis(stem: String): Option[Array[Double]] = {
      val pkl = new File(dir, s"$stem.pkl")
      val npy = new File(dir, s"$stem.npy")
      if (pkl.exists) Some(Pickle.toDoubles(Pickle.load(pkl.getPath)))
      else if (npy.exists) Some(Npy.read(npy.getPath).data)
      else None
    }
    val inc = axis("incidence_angle").getOrElse(sys.error(s"$dir: no incidence_angle axis"))
    val pairPkl = new File(dir, "wind_speed_and_direction.pkl")
    val (phi, wspd) =
      if (pairPkl.exists) Pickle.toDoublePair(Pickle.load(pairPkl.getPath))
      else (axis("wind_direction").getOrElse(Array.empty[Double]),
        axis("wind_speed").getOrElse(sys.error(s"$dir: no wind_speed axis")))
    val (nI, nW, nP) = (inc.length, wspd.length, math.max(phi.length, 1))
    val wantShape = if (phi.isEmpty) Seq(nI, nW) else Seq(nI, nP, nW)
    require(sigma.shape.toSeq == wantShape,
      s"$dir: sigma.npy shape ${sigma.shape.toSeq} != $wantShape (disk layout is (inc[, phi], wspd))")
    val values = new Array[Double](sigma.size)
    var i = 0
    while (i < nI) {
      var w = 0
      while (w < nW) {
        var p = 0
        while (p < nP) {
          values((i * nW + w) * nP + p) =
            if (phi.isEmpty) sigma.at(Array(i, w)) else sigma.at(Array(i, p, w))
          p += 1
        }
        w += 1
      }
      i += 1
    }
    val name = "sarwing_lut__" + new File(dir).getName.replaceFirst("^GMF_", "")
    LutIO.writeLutData(spark, Lut(inc, wspd, phi, values, units = "dB"), outPath,
      Map("model" -> name, "pol" -> (if (phi.nonEmpty) "VV" else "VH"),
        "resolution" -> "high"))
  }

  /** xsarsea nc LUT: var `sigma0_model` over dims (incidence, wspd[, phi])
    * with coordinate vars named after the dims; global attrs units/pol/
    * model/resolution (models.py:350-411). Handles BOTH container formats
    * by magic bytes: classic CDF via [[Nc3]], netCDF-4/HDF5 via [[Hdf5]]
    * (coordinate datasets + root-group attributes, fixed or vlen strings —
    * what xarray's netCDF4 backend writes by default).
    */
  def ingestNc(spark: SparkSession, ncPath: String, outPath: String): Unit = {
    val magic = new Array[Byte](2)
    val in = new java.io.FileInputStream(ncPath)
    try in.read(magic) finally in.close()
    if (magic(0) == 0x89.toByte && magic(1) == 'H') return ingestNcH5(spark, ncPath, outPath)
    val nc = Nc3.read(ncPath)
    val s0 = nc.variable("sigma0_model")
    val dimNames = s0.dimIds.map(d => nc.dims(d).name)
    require(dimNames.take(2) == Seq("incidence", "wspd") &&
      (dimNames.length == 2 || dimNames == Seq("incidence", "wspd", "phi")),
      s"$ncPath: sigma0_model dims must be (incidence, wspd[, phi]), got $dimNames")
    val inc = nc.variable("incidence").data
    val wspd = nc.variable("wspd").data
    val phi = if (dimNames.length == 3) nc.variable("phi").data else Array.empty[Double]
    def gatt(n: String, default: => String): String =
      nc.gatt(n).map(_.text).getOrElse(default)
    val name = gatt("model",
      new File(ncPath).getName.stripSuffix(".nc"))
    // C-order (inc, wspd[, phi]) on disk IS the canonical layout
    LutIO.writeLutData(spark,
      Lut(inc, wspd, phi, s0.data, units = gatt("units", "dB")), outPath,
      Map("model" -> name, "pol" -> gatt("pol", "VV"),
        "resolution" -> gatt("resolution", "high")))
  }

  private def ingestNcH5(spark: SparkSession, ncPath: String, outPath: String): Unit = {
    val dsets = Hdf5.openGroup(ncPath, "/")
    def ds(n: String): Hdf5.DsetMeta =
      dsets.find(_.name == n).getOrElse(
        sys.error(s"$ncPath: no variable $n (have ${dsets.map(_.name).mkString(", ")})"))
    val s0 = ds("sigma0_model")
    require(s0.rank == 2 || s0.rank == 3,
      s"$ncPath: sigma0_model must be (incidence, wspd[, phi]), got rank ${s0.rank}")
    val inc = Hdf5.readAll(ncPath, ds("incidence"))
    val wspd = Hdf5.readAll(ncPath, ds("wspd"))
    val phi = if (s0.rank == 3) Hdf5.readAll(ncPath, ds("phi")) else Array.empty[Double]
    val wantDims = Seq(inc.length.toLong, wspd.length.toLong) ++
      (if (s0.rank == 3) Seq(phi.length.toLong) else Nil)
    require(s0.dims.toSeq == wantDims,
      s"$ncPath: sigma0_model dims ${s0.dims.toSeq} != coordinate lengths $wantDims")
    val gatts = Hdf5.groupAttrs(ncPath, "/")
    def gatt(n: String, default: => String): String =
      gatts.get(n).flatMap(_.left.toOption).getOrElse(default)
    LutIO.writeLutData(spark,
      Lut(inc, wspd, phi, Hdf5.readAll(ncPath, s0), units = gatt("units", "dB")), outPath,
      Map("model" -> gatt("model", new File(ncPath).getName.replaceFirst("[.]nc4?$", "")),
        "pol" -> gatt("pol", "VV"), "resolution" -> gatt("resolution", "high")))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: LutIngest <cmod7|npy|nc> <in> <out>")
    val Array(kind, in, out) = args
    val spark = GraftSession.getOrCreate(appName = "graft-lut-ingest")
    kind match {
      case "cmod7" => ingestCmod7(spark, in, out)
      case "npy" => ingestNpy(spark, in, out)
      case "nc" =>
        val f = new File(in)
        if (f.isDirectory)
          f.listFiles().filter(x => x.getName.startsWith("nc_lut_") &&
              (x.getName.endsWith(".nc") || x.getName.endsWith(".nc4")))
            .foreach(x => ingestNc(spark, x.getPath,
              s"$out/${x.getName.replaceFirst("[.]nc4?$", "")}"))
        else ingestNc(spark, in, out)
      case other => sys.error(s"unknown ingest kind $other")
    }
    println(s"[lut-ingest] $kind $in -> $out")
    spark.stop()
  }
}
