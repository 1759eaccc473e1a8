package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.core.GraftSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.getOrCreate(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Dev-loop subset filter (same contract as Bench): run only the named
    // queries. The driver never sets this, so the gate still runs them all.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // name-boundary match with substring fallback (QueryFilter) — same
    // contract as Bench; "q13" selects q13_detrend, not q130..q136 too
    val selected = only match {
      case None => SparkEntry.queries
      case Some(tokens) =>
        val sel = QueryFilter.selector(tokens, SparkEntry.queries.keys)
        SparkEntry.queries.filter { case (n, _) => sel(n) }
    }
    // same cache lifecycle as Bench: shared session caches release after
    // their last consumer instead of pinning storage for all 127 dumps
    var completed = SparkEntry.queries.keySet -- selected.keySet
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      completed += name
      graft.core.CacheLife.afterQuery(spark, completed)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
