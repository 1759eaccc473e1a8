package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.types._

import graft.core.GraftSession

/** S1 — scene ingest: netCDF-3 classic OWI scene file → long-format Parquet
  * scene, with `read_sarwing_owi` semantics (detrend.py:71-93):
  *
  *  - dims `owiAzSize`/`owiRaSize` rename to `line`/`sample` (already-named
  *    `line`/`sample` pass through);
  *  - calibration-constant vars `owiCalConstObsi`/`owiCalConstInci` drop;
  *  - coords become dense 0-based integer indexes.
  *
  * Every (line, sample)-shaped variable becomes a column of the output; the
  * result is the engine's canonical scene table (same shape as
  * [[graft.queries.SceneDef]]).
  *
  * Scale shape: the DRIVER parses only the few-KB header; every executor
  * partition then reads its own pixel span's byte ranges for each variable
  * straight from the file (fixed vars are contiguous slabs; record vars are
  * per-row slabs at `begin + line*recSize`). Driver memory is O(header),
  * executor memory is O(pixels-per-partition × vars) — nothing scales with
  * the whole scene, so a 38M-px × 10-var scene ingests with a flat driver
  * heap. The file path must be visible from executors (local[n] or shared
  * storage — where a real Spark cluster keeps scene files anyway).
  */
object SceneIngest {

  private val DimRename = Map("owiAzSize" -> "line", "owiRaSize" -> "sample")
  private val DropVars = Set("owiCalConstObsi", "owiCalConstInci")

  /** Max pixels per ingest partition: bounds executor slab memory at
    * ~`2M × nVars × 8B` (≈160 MB at 10 vars) while keeping per-partition
    * reads large enough to be sequential-ish. */
  private val PxPerPartition = 2000000L

  /** Grid shape + per-variable read recipes for a classic netCDF-3 scene —
    * the driver-side metadata walk shared by [[readOwi]] and the
    * [[OwiDataSource]] DataSource V2 path. */
  private[sources] def nc3Recipes(ncPath: String): (Int, Int, IndexedSeq[VarRecipe]) = {
    val h = Nc3.readHeader(ncPath)
    def dimName(id: Int): String = {
      val n = h.dims(id).name
      DimRename.getOrElse(n, n)
    }
    val gridVars = h.varms.filter { v =>
      !DropVars(v.name) && v.dimIds.length == 2 &&
        v.dimIds.map(dimName) == Seq("line", "sample")
    }
    require(gridVars.nonEmpty, s"$ncPath: no (line, sample) variables found")
    val lineDim = h.dims(gridVars.head.dimIds(0))
    val nL = if (lineDim.isRecord) h.numrecs else lineDim.length
    val nS = h.dims(gridVars.head.dimIds(1)).length
    val recipes = gridVars.map(v =>
      Nc3Var(v.name, v.ncType, v.begin, h.isRecordVar(v), h.recSize): VarRecipe)
    (nL, nS, recipes.toIndexedSeq)
  }

  /** Grid shape + read recipes for a netCDF-4/HDF5 scene group: chunk lists
    * are walked ONCE on the driver (O(chunks) metadata, never values). */
  private[sources] def h5Recipes(h5Path: String,
      group: String): (Int, Int, IndexedSeq[VarRecipe]) = {
    val metas = Hdf5.openGroup(h5Path, group)
    val gridVars = metas.filter(m => !DropVars(m.name) && m.rank == 2)
    require(gridVars.nonEmpty, s"$h5Path: no 2-D variables in group '$group'")
    val nL = gridVars.head.dims(0).toInt
    val nS = gridVars.head.dims(1).toInt
    require(gridVars.forall(_.dims.sameElements(Array(nL.toLong, nS.toLong))),
      s"$h5Path: inconsistent grid shapes: ${gridVars.map(v => v.name -> v.dims.toSeq)}")
    val recipes = gridVars.map(m =>
      H5Var(m, Hdf5.chunkIndex(h5Path, m).toArray): VarRecipe)
    (nL, nS, recipes.toIndexedSeq)
  }

  /** Magic-byte dispatch to [[nc3Recipes]] / [[h5Recipes]] —
    * `xr.open_dataset` parity for both container generations. */
  private[sources] def sceneRecipes(path: String,
      group: String = "owiInversionTables_UV"): (Int, Int, IndexedSeq[VarRecipe]) = {
    val magic = new Array[Byte](8)
    val in = new java.io.FileInputStream(path)
    try in.read(magic) finally in.close()
    if (magic(0) == 0x89.toByte && magic(1) == 'H') h5Recipes(path, group)
    else nc3Recipes(path)
  }

  private[sources] def sceneSchema(recipes: Seq[VarRecipe]): StructType =
    StructType(
      StructField("line", IntegerType, nullable = false) +:
      StructField("sample", IntegerType, nullable = false) +:
      recipes.map(r => StructField(r.name, DoubleType, nullable = false)))

  /** Distributed materialization: each `spark.range` partition is a
    * contiguous pixel-id span; the executor bulk-reads each variable's
    * covering byte ranges, then emits rows. */
  private def materialize(spark: SparkSession, path: String, nL: Int, nS: Int,
      recipes: IndexedSeq[VarRecipe]): DataFrame = {
    val schema = sceneSchema(recipes)
    val nVars = recipes.length
    val nPx = nL.toLong * nS
    val nParts = math.max(spark.sparkContext.defaultParallelism.toLong,
      (nPx + PxPerPartition - 1) / PxPerPartition).toInt
    spark.range(0, nPx, 1, nParts).mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val ids = it.map(_.toLong).toArray
        val lo = ids.head
        val hi = ids.last
        val raf = new java.io.RandomAccessFile(path, "r")
        val planes = try recipes.map(_.readSpan(raf, lo, hi, nL, nS)).toArray
        finally raf.close()
        ids.iterator.map { id =>
          val off = (id - lo).toInt
          val vals = new Array[Any](nVars + 2)
          vals(0) = (id / nS).toInt
          vals(1) = (id % nS).toInt
          var v = 0
          while (v < nVars) { vals(v + 2) = planes(v)(off); v += 1 }
          Row.fromSeq(vals.toIndexedSeq)
        }
      }
    }(RowEncoder.encoderFor(schema))
  }

  def readOwi(spark: SparkSession, ncPath: String): DataFrame = {
    val (nL, nS, recipes) = nc3Recipes(ncPath)
    materialize(spark, ncPath, nL, nS, recipes)
  }

  /** netCDF-4/HDF5 OWI scene → the same canonical pixel table as [[readOwi]]
    * — the reference's real open path (`xr.open_dataset(owi_file,
    * group="owiInversionTables_UV")`, detrend.py:76-79; the actual
    * Sentinel-1 OWI files are HDF5 containers, not classic CDF). Same scale
    * shape: the driver walks only the metadata (object headers + chunk
    * B-trees — O(chunks) entries); executors read and de-filter exactly the
    * chunks/byte-ranges overlapping their pixel span.
    */
  def readOwiH5(spark: SparkSession, h5Path: String,
      group: String = "owiInversionTables_UV"): DataFrame = {
    val (nL, nS, recipes) = h5Recipes(h5Path, group)
    materialize(spark, h5Path, nL, nS, recipes)
  }

  /** Sniff classic CDF vs HDF5 by magic bytes — `xr.open_dataset` parity. */
  def readOwiAuto(spark: SparkSession, path: String): DataFrame = {
    val (nL, nS, recipes) = sceneRecipes(path)
    materialize(spark, path, nL, nS, recipes)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SceneIngest <out-dir> <owi.nc> [more.nc ...]")
    val outDir = args.head
    val spark = GraftSession.getOrCreate(appName = "graft-scene-ingest")
    args.tail.foreach { nc =>
      val name = new File(nc).getName.stripSuffix(".nc")
      readOwiAuto(spark, nc).write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"[scene-ingest] $nc -> $outDir/$name")
    }
    spark.stop()
  }
}
