package graft

import graft.core.GraftSession
import graft.models.{LutIO, ModelRegistry}

/** S7 — batch LUT export CLI (the reference's `models_to_nc` typer command,
  * src/scripts/xsarsea_cli.py:12-29): materialize every registered model's
  * LUT and write the canonical Parquet form, or — with `--nc` — the
  * reference's own nc-LUT layout (NetCDF-3 classic, readable by its
  * `register_nc_luts`).
  *
  * Usage: runMain graft.LutExport <outDir> [--nc] [modelName ...]
  */
object LutExport {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: LutExport <outDir> [--nc] [modelName ...]")
    val outDir = args.head
    // Guard against flag-like output dirs: `LutExport --help` once wrote 39 MB of
    // parquet into a directory literally named `--help/` and it got committed.
    require(
      !outDir.startsWith("-"),
      s"outDir '$outDir' looks like a flag, not a path; pass the output directory first")
    val asNc = args.tail.contains("--nc")
    val only = args.tail.filterNot(_ == "--nc").toSet
    val spark = GraftSession.getOrCreate(appName = "graft-lut-export")
    val models = ModelRegistry.all.filter(m => only.isEmpty || only(m.name))
    models.foreach { m =>
      val path = if (asNc) s"$outDir/nc_lut_${m.name}.nc" else s"$outDir/${m.name}"
      if (asNc) LutIO.writeLutNc(spark, m.name, path)
      else LutIO.writeLut(spark, m.name, path)
      println(s"[lut-export] ${m.name} -> $path")
    }
    spark.stop()
  }
}
