package graft

import scala.util.control.NonFatal

import graft.core.GraftSession

/** Plan-hygiene tool: print the formatted physical plan of registered
  * queries, on the session every other entry point uses. Usage:
  * runMain graft.Explain [sfDir] [query...] — query tokens match as
  * SPARK_GRAFT_QUERIES does for Bench and Verify (QueryFilter).
  * Greppables: `PushedFilters` (scan pushdown), `ReusedExchange` (shared
  * subplans), `Exchange` count (shuffle budget), `WholeStageCodegen` spans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val wanted = args.drop(1)
    val spark = GraftSession.getOrCreate(appName = "graft-explain")
    val sel = QueryFilter.selector(wanted, SparkEntry.queries.keys)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || sel(n) }
      .foreach { case (name, fn) =>
        println(s"===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case NonFatal(e) => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
