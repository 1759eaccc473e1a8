package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Data-quality profiling — the pre-flight validation a pipeline runs over
  * every new data drop before letting it into training (null rates, value
  * ranges, cardinalities; the Deequ/expectations pattern).
  *
  * Scale shape: ONE aggregation pass computes every metric for every
  * profiled column (all metrics are map-side-combinable; the distinct
  * counts expand the input per-column but still partial-aggregate), then a
  * constant-width stack pivots the single result row into the long
  * (column, metrics...) report. No per-column scans, no driver math beyond
  * the 1-row pivot.
  */
object Profile {

  /** Long-format numeric profile: one row per column in `cols` with
    * n_null / n_distinct / min_v / max_v / mean_v. The mean is computed
    * entirely in integer space — decimal-exact cents sum, then
    * micro-units via half-up long division ((cents*20000+cnt) div
    * (2*cnt)) — so it is bit-identical across engines with no
    * round(double) tie hazards. Columns must be numeric with ≤2
    * meaningful decimals (the TPC-H money/quantity shape).
    */

  /** Query-scoped persist of a BOUNDED intermediate (distinct-value /
    * bucket-table sized) read by several plan branches — broadcast builds
    * and filter branches never share subtrees, so without the pin each
    * reader re-runs the whole upstream. Released by the bench/verify
    * cache lifecycle right after the query. */
  private def pin(df: DataFrame): DataFrame =
    graft.core.CacheLife.scoped(df.persist())

  def numeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    // TWO aggregation passes, not one: mixing countDistinct with plain
    // aggregates makes Catalyst evaluate EVERY plain aggregate on every
    // Expand-multiplied row (cols+1 × input) behind per-gid guards —
    // measured 3.3 s vs 0.5+0.7 s for the split passes at sf0.1. Two
    // columnar scans also shuffle less than one Expand at any scale.
    val plainAggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nnull"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        (sum(col(c).cast(DecimalType(18, 2))) * lit(100)).cast("long")
          .as(s"${c}__cents"),
        count(col(c)).as(s"${c}__cnt"))
    }
    val distAggs: Seq[Column] =
      cols.map(c => countDistinct(col(c)).as(s"${c}__ndist"))
    // both sides are single rows — the crossJoin is a 1×1 BNLJ
    val one = df.agg(plainAggs.head, plainAggs.tail: _*)
      .crossJoin(df.agg(distAggs.head, distAggs.tail: _*))
    val stacked = cols.map { c =>
      struct(lit(c).as("col_name"),
        col(s"${c}__nnull").as("n_null"),
        col(s"${c}__ndist").as("n_distinct"),
        col(s"${c}__min").as("min_v"),
        col(s"${c}__max").as("max_v"),
        (expr(s"(${c}__cents * 20000L + ${c}__cnt) div (2L * ${c}__cnt)")
          .cast("double") / lit(1e6)).as("mean_v"))
    }
    one.select(explode(array(stacked: _*)).as("m")).select(col("m.*"))
  }

  /** Corpus-mix concentration report — per-key counts, micro-unit shares,
    * and the Herfindahl–Hirschman concentration index of the whole mix
    * (HHI = Σ share², ≈ 1e6/|keys| for a uniform mix, 1e6 for a monoculture)
    * — the one-glance answer to "is this corpus dominated by one source?".
    *
    * Integer-exact: shares are `1e6·cnt // total` with the numerator on
    * DECIMAL(38,0) (BIGINT `cnt·1e6` overflows past ~9.2e12 rows per key);
    * the HHI numerator Σ cnt² rides DECIMAL(38,0) too (overflows BIGINT
    * past ~3e9 total rows) and lands as `1e6·Σcnt² // total²`. One
    * map-side-combinable groupBy
    * shuffles |keys| count rows; the total joins back as a broadcast
    * 1-row frame. Output: key, n_rows, share_micro, hhi_micro (constant
    * across rows — the mix-level index).
    */
  def concentration(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_rows"))
    val tot = counts.agg(sum(col("n_rows")).as("__tot"),
      sum(col("n_rows").cast(DecimalType(38, 0)) * col("n_rows")).as("__sq"))
    counts.crossJoin(broadcast(tot))
      .select(col(keyCol), col("n_rows"),
        expr("""CAST((CAST(n_rows AS DECIMAL(38,0)) * 1000000)
                DIV __tot AS BIGINT)""").as("share_micro"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * __sq)
                DIV (CAST(__tot AS DECIMAL(38,0)) * __tot) AS BIGINT)""")
          .as("hhi_micro"))
  }

  /** k-anonymity audit over quasi-identifier columns — the privacy QA a
    * training corpus runs before release: every combination of the QI
    * columns whose group is smaller than `k` re-identifies its members
    * (Sweeney 2002). One map-side-combinable groupBy over the QI tuple;
    * output one row per observed combination: the QI columns, `n_rows`,
    * and `is_risky` (n_rows < k).
    */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], k: Long): DataFrame = {
    require(qiCols.nonEmpty && k >= 1, "need QI columns and k >= 1")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("is_risky", col("n_rows") < k)
  }

  /** Distribution drift between two snapshots of the same column, by
    * bucket-share total-variation distance — the training-data drift
    * monitor (the PSI role, but log-free so it stays integer-exact):
    * bucket both sides, compare per-bucket micro-unit shares, and report
    * TV = Σ|share_a − share_b| / 2 (0 = identical mix, 1e6 = disjoint).
    * Buckets absent on one side count at share 0 — the full-outer join
    * keeps them.
    *
    * Two map-side-combinable groupBys (one per snapshot) shuffle
    * |buckets| count rows each; totals ride broadcast 1-row frames. Output
    * one row per observed bucket: bucket, n_a, n_b, share_a_micro,
    * share_b_micro, plus the mix-level tv_micro constant on every row.
    */
  def bucketDrift(a: DataFrame, b: DataFrame, bucketCol: String): DataFrame =
    bucketDriftFromCounts(
      a.groupBy(col(bucketCol)).agg(count(lit(1)).as("n_rows")),
      b.groupBy(col(bucketCol)).agg(count(lit(1)).as("n_rows")),
      bucketCol)

  /** [[bucketDrift]] over PRE-AGGREGATED (bucket, n_rows) count tables —
    * the incremental form a streaming monitor maintains (count-delta
    * stores sum to these without ever re-materializing rows). */
  def bucketDriftFromCounts(ca: DataFrame, cb: DataFrame,
      bucketCol: String): DataFrame = {
    def shares(c0: DataFrame, cn: String, sn: String, tot: String): DataFrame = {
      val c = c0.select(col(bucketCol), col("n_rows").cast("long").as(cn))
      c.crossJoin(broadcast(c.agg(sum(col(cn)).as(tot))))
        .withColumn(sn, expr(s"$cn * 1000000 DIV $tot")).drop(tot)
    }
    val sa = shares(ca, "n_a", "share_a_micro", "__ta")
    val sb = shares(cb, "n_b", "share_b_micro", "__tb")
    val joined = sa.join(sb, Seq(bucketCol), "full_outer")
      .select(col(bucketCol),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("share_a_micro"), lit(0L)).as("share_a_micro"),
        coalesce(col("share_b_micro"), lit(0L)).as("share_b_micro"))
    val tv = joined
      .agg(sum(abs(col("share_a_micro") - col("share_b_micro"))).as("__s"))
      .select(expr("__s DIV 2").as("tv_micro"))
    joined.crossJoin(broadcast(tv))
  }

  /** Functional-dependency check lhs → rhs: one row with the distinct
    * lhs-key count and how many keys map to MORE than one rhs value (the
    * FD's violators). The schema-profiling primitive (Metanome-style FD
    * discovery, Papenbrock 2015) a pipeline runs before trusting a column
    * as a join/dedup key. One combinable (lhs, rhs) distinct + one lhs
    * groupBy — key columns only ever shuffle.
    */
  def fdViolations(df: DataFrame, lhs: String, rhs: String): DataFrame =
    // a key violates lhs → rhs iff it sees ≥2 distinct rhs values —
    // equivalently min(rhs) ≠ max(rhs), or both a null and a non-null rhs
    // (min/max skip nulls; the null/non-null case keeps the DISTINCT-pair
    // semantics this used to compute). min/max/count are all map-side
    // combinable, so the check is ONE exchange of |distinct lhs| partial
    // rows — the previous distinct-pairs pass shuffled every (lhs, rhs)
    // pair and then re-shuffled the pair table to regroup by lhs.
    df.groupBy(col(lhs))
      .agg(min(col(rhs)).as("__mn"), max(col(rhs)).as("__mx"),
        count(col(rhs)).as("__nn"), count(lit(1)).as("__all"))
      .agg(count(lit(1)).as("n_keys"),
        coalesce(sum(when(col("__mn") =!= col("__mx") ||
          (col("__nn") > 0 && col("__nn") < col("__all")), 1L)), lit(0L))
          .as("n_violations"))

  /** Inclusion-dependency check a.acol ⊆ b.bcol: one row with a's distinct
    * key count and the ORPHANS (a-keys absent from b) — the
    * foreign-key/referential-integrity audit. Distinct + left-anti join on
    * the key columns only.
    */
  def inclusionOrphans(a: DataFrame, acol: String, b: DataFrame,
      bcol: String): DataFrame = {
    // membership flags via ONE tagged-union groupBy (map-side combinable)
    // instead of two distinct exchanges + an anti-join: per key, did it
    // appear in a, in b, or both. A null a-key stays an orphan (a null key
    // never equi-joins — the previous left_anti semantics).
    val keys = a.select(col(acol).as("__k"), lit(1).as("__s"))
      .unionAll(b.select(col(bcol).as("__k"), lit(2).as("__s")))
      .groupBy(col("__k"))
      .agg(max(col("__s") === 1).as("__in_a"), max(col("__s") === 2).as("__in_b"))
    keys.agg(
      coalesce(sum(when(col("__in_a"), 1L)), lit(0L)).as("n_keys"),
      coalesce(sum(when(col("__in_a") &&
        (!col("__in_b") || col("__k").isNull), 1L)), lit(0L)).as("n_violations"))
  }

  /** Per-group winsorization — the REPAIR companion of [[madOutliers]]:
    * clamp every value into its group's [loQ, hiQ] exact-rank quantile
    * band (value at 0-indexed rank ⌊q·(n−1)⌋ — the
    * [[Sketches.groupedQuantiles]] semantics, which computes the bounds
    * here: histogram-rank resolution, no per-key full sort, unbounded key
    * cardinality). Clamped values stay in the data domain (they ARE order
    * statistics — no float interpolation), so the output is integer-exact
    * on integral inputs.
    *
    * Output: key, id, value, lo, hi, value_w (clamped), clamped_low/high.
    */
  def winsorize(df: DataFrame, keyCol: String, idCol: String,
      valueCol: String, loQ: Double = 0.01, hiQ: Double = 0.99): DataFrame = {
    require(0 <= loQ && loQ <= hiQ && hiQ <= 1, "need 0 <= loQ <= hiQ <= 1")
    val vals = df.select(col(keyCol), col(idCol),
      col(valueCol).cast("long").as(valueCol))
    val qs = Sketches.groupedQuantiles(vals, keyCol, valueCol, Seq(loQ, hiQ))
    val lo = qs.filter(col("q") === loQ)
      .select(col(keyCol), col("value").cast("long").as("lo"))
    val hi = qs.filter(col("q") === hiQ)
      .select(col(keyCol), col("value").cast("long").as("hi"))
    vals.join(lo, Seq(keyCol)).join(hi, Seq(keyCol))
      .withColumn("value_w", least(greatest(col(valueCol), col("lo")), col("hi")))
      .withColumn("clamped_low", col(valueCol) < col("lo"))
      .withColumn("clamped_high", col(valueCol) > col("hi"))
  }

  /** Per-group robust outlier flags by median / MAD (median absolute
    * deviation) — the data-QA pass that catches corrupted numerics (unit
    * glitches, sensor spikes) where mean/stddev would be dragged by the
    * very outliers it is hunting. A row is flagged when
    * |x − median| > (kNum/kDen) · MAD.
    *
    * Arithmetic is INTEGER-EXACT on an integral `valueCol`: medians are
    * carried DOUBLED (`med2` = 2·median — the even-count midpoint is a sum
    * of the two middle order statistics, never a fraction), deviations as
    * `dev2` = 2·|x − median| = |2x − med2|, and the MAD quadrupled
    * (`mad4` = median2 of dev2 = 4·MAD), so the flag comparison
    * `2·dev2·kDen > kNum·mad4` is pure BIGINT — bit-identical in any
    * engine, no float quantile interpolation anywhere.
    *
    * Scale shape: ONE hash exchange on the group key serves the whole
    * plan — the rank window partitions by key, the med2/mad4 groupBys and
    * the two join-backs reuse that partitioning (AQE keeps them
    * exchange-free), so the cost is two per-key sort passes over (key,
    * value) pairs, never payloads. Per-key skew: a hot key pays its own
    * sort; for million-row keys switch to the histogram-rank machinery of
    * [[Sketches.groupedQuantiles]] (same semantics, no full per-key sort).
    *
    * Output: key, id, value, med2, dev2, mad4, is_outlier.
    */
  def madOutliers(df: DataFrame, keyCol: String, idCol: String,
      valueCol: String, kNum: Int = 3, kDen: Int = 1): DataFrame = {
    require(kNum > 0 && kDen > 0, "threshold multiplier must be positive")
    import org.apache.spark.sql.expressions.Window
    val k = col(keyCol)

    // rank pass: rows tagged with the doubled-median contribution (the
    // one-or-two middle order statistics; both coincide for odd counts →
    // counted twice). Returns the RANKED frame — hash-partitioned by key
    // and sorted with key as the leading column, so the med join-back and
    // the next window pass both reuse the partitioning exchange-free.
    def ranked(in: DataFrame, vc: String): DataFrame = {
      val w = Window.partitionBy(k).orderBy(col(vc), col(idCol))
      val wk = Window.partitionBy(k)
      in.withColumn("__rn", row_number().over(w).cast("long"))
        .withColumn("__n", count(lit(1)).over(wk))
        .withColumn("__c",
          expr(s"""CASE
            WHEN __rn = (__n - 1) DIV 2 + 1 AND __rn = __n DIV 2 + 1 THEN 2 * $vc
            WHEN __rn = (__n - 1) DIV 2 + 1 OR  __rn = __n DIV 2 + 1 THEN $vc
            ELSE 0 END"""))
    }
    def med2Of(r: DataFrame, out: String): DataFrame =
      r.groupBy(k).agg(sum(col("__c")).as(out))

    val vals = df.select(k, col(idCol), col(valueCol).cast("long").as(valueCol))
    val r1 = ranked(vals, valueCol)
    val dev = r1.drop("__rn", "__n", "__c")
      .join(med2Of(r1, "med2"), Seq(keyCol))
      .withColumn("dev2", abs(lit(2) * col(valueCol) - col("med2")))
    val r2 = ranked(dev, "dev2")
    r2.drop("__rn", "__n", "__c")
      .join(med2Of(r2, "mad4"), Seq(keyCol))
      .select(k, col(idCol), col(valueCol), col("med2"), col("dev2"), col("mad4"),
        (lit(2L * kDen) * col("dev2") > lit(kNum.toLong) * col("mad4")).as("is_outlier"))
  }

  /** Pearson χ² test of independence between two categorical columns,
    * with Cramér's V — the CATEGORICAL drift/association test next to
    * [[ksTwoSample]]'s ordered-axis one (is the language mix independent
    * of the source, or did one shard go monolingual?).
    *
    * Exact-integer quantization contract, replayed bit-for-bit by the
    * oracle: over the FULL |A|×|B| cell grid (zero-observed cells
    * included — they carry e = r·c/n of the statistic),
    * cell_micro = ⌊10⁶·(o·n − r·c)² / (n·r·c)⌋, summed. Spark's DIV
    * returns Long, and 10⁶·diff² can reach 10⁴² — so the floor is
    * computed EXACTLY as q·10⁶ + ⌊rem·10⁶/denom⌋ with q = diff² DIV
    * denom (≤ n, the χ² cell bound) and rem = diff² % denom: every
    * quotient fits a Long while the numerator algebra stays in
    * DECIMAL(38,0); the oracle takes the direct HUGEINT path — the two
    * are the same integer. cramers_v = √(χ²/(n·min(|A|−1, |B|−1))) as a
    * round-6 double from the exact integers (identical inputs ⇒
    * identical doubles). chi2_micro ≤ 10⁶·n·min(|A|,|B|) — BIGINT-safe
    * through n = 10⁹ for any realistic category count.
    *
    * Scale shape: one map-side-combinable (a, b) groupBy shuffling
    * ≤ |A|·|B| count rows; the cell grid is a crossJoin of the two
    * bounded distinct-value tables. Output (one row): n, n_a, n_b, dof,
    * chi2_micro, cramers_v.
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame =
    chiSquareBy(df, Nil, aCol, bCol)

  /** [[chiSquare]] over a PRE-AGGREGATED (a, b, o) contingency count
    * table — the incremental form a streaming drift monitor maintains
    * (the [[bucketDriftFromCounts]] contract). Duplicate (a, b) rows are
    * combined, so a delta store may carry per-batch counts. NULL
    * categories are EXCLUDED up front (complete-case, the R chisq.test
    * convention) — a null key would be counted into the row/column totals
    * while the null-unsafe cell-grid join zeroed its observed count,
    * silently inflating χ².
    */
  def chiSquareFromCounts(counts: DataFrame): DataFrame =
    chiByCounts(counts.where(col("a").isNotNull && col("b").isNotNull)
      .groupBy(col("a"), col("b")).agg(sum(col("o")).as("o")), Nil)

  /** [[chiSquare]] per key group — the categorical association slice
    * dashboard (is the source×length-band dependence present in EVERY
    * language, and how strong per slice?), the significance companion of
    * [[mutualInfoBy]]'s strength dial over the same sliced pair. Same
    * exact-integer quotient+remainder contract as the global form; the
    * per-key cell grid densifies by a keyed EQUI-join of the two per-key
    * distinct-value tables (the [[kendallTauBBy]] grid shape — no cross
    * join), every aggregate and join keyed — zero SinglePartition.
    * Complete-case on keys and both columns. Output (one row per key):
    * keys…, n, n_a, n_b, dof, chi2_micro, cramers_v. `keys = Nil` is
    * [[chiSquare]]: no rows on empty input.
    */
  def chiSquareBy(df: DataFrame, keys: Seq[String], aCol: String,
      bCol: String): DataFrame = {
    val nn = Keyed.guard(keys, Set("a", "b", "o", "r", "c", "n", "n_a", "n_b",
      "dof", "chi2_micro", "cramers_v", "__d", "__den", "__cell", "__chi"))
    val ks = keys.map(col)
    chiByCounts(df.select(ks :+ col(aCol).cast("string").as("a") :+
        col(bCol).cast("string").as("b"): _*)
      .where(col("a").isNotNull && col("b").isNotNull && nn)
      .groupBy(ks ++ Seq(col("a"), col("b")): _*).agg(count(lit(1)).as("o")),
      keys)
  }

  /** χ² over a (keys…, a, b, o) table with one row per observed cell. */
  private def chiByCounts(obs: DataFrame, keys: Seq[String]): DataFrame = {
    val ks = keys.map(col)
    val ra = obs.groupBy(ks :+ col("a"): _*).agg(sum(col("o")).as("r"))
    val cb = obs.groupBy(ks :+ col("b"): _*).agg(sum(col("o")).as("c"))
    val tot = obs.groupBy(ks: _*).agg(sum(col("o")).as("n"),
      count_distinct(col("a")).as("n_a"), count_distinct(col("b")).as("n_b"))
    val cells = ra.join(cb, keys) // per-key |A|×|B|, both sides bounded
      .join(obs, keys ++ Seq("a", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    cells.join(Keyed.side(tot, keys), keys)
      .withColumn("__d", (col("o").cast(DecimalType(38, 0)) * col("n") -
        col("r").cast(DecimalType(38, 0)) * col("c")))
      .withColumn("__den",
        expr("CAST(n AS DECIMAL(38,0)) * r * c"))
      .withColumn("__cell",
        expr("""(__d * __d DIV __den) * 1000000 +
                ((__d * __d) % __den) * 1000000 DIV __den"""))
      .groupBy(ks ++ Seq(col("n"), col("n_a"), col("n_b")): _*)
      .agg(coalesce(sum(col("__cell").cast(DecimalType(38, 0))),
        lit(0).cast(DecimalType(38, 0))).as("__chi"))
      .select(ks ++ Seq(col("n"), col("n_a"), col("n_b"),
        ((col("n_a") - 1) * (col("n_b") - 1)).as("dof"),
        expr("CAST(__chi AS BIGINT)").as("chi2_micro")): _*)
      .withColumn("cramers_v",
        expr("""CASE WHEN n = 0 OR least(n_a - 1, n_b - 1) <= 0 THEN 0.0
                ELSE ROUND(SQRT(CAST(chi2_micro AS DOUBLE) / 1000000.0
                  / (CAST(n AS DOUBLE) * least(n_a - 1, n_b - 1))), 6) END"""))
  }

  /** Cochran–Mantel–Haenszel test + Mantel-Haenszel pooled odds ratio for
    * a binary×binary association ACROSS strata — the Simpson's-paradox-
    * safe member of the association family: the marginal χ² (q201) can
    * manufacture or hide an association that reverses inside every slice,
    * the per-slice χ² ([[chiSquareBy]], q222) fragments power over small
    * strata; CMH pools the per-stratum evidence while CONTROLLING for the
    * stratum (Cochran 1954, Mantel & Haenszel 1959 — the R
    * `mantelhaen.test(correct=FALSE)` statistic):
    *   CMH = (Σ_k (o11 − r1·c1/n))² / Σ_k r1·r2·c1·c2/(n²(n−1)),
    *   OR_MH = Σ_k (o11·o00/n) / Σ_k (o10·o01/n).
    * Both columns are binarized with the label contract (=1 ⇒ 1, else 0).
    *
    * Determinism: per-stratum terms are rationals with stratum-local
    * denominators — each is computed as a round-9 double with IDENTICAL
    * expression text in both engines and summed as DECIMAL(24,9)
    * (associative — the [[psi]] discipline); cmh6/or_mh6 are round-6
    * doubles of the rounded sums. Strata with n < 2 carry no information
    * (the variance term is 0/0) and are excluded from all four sums but
    * counted in n_skipped; a degenerate margin inside a stratum zeroes
    * its terms naturally. or_mh6 is NULL when the discordant-pair sum is
    * 0 (infinite/undefined OR — surfaced, not faked).
    *
    * Scale shape: ONE map-side-combinable groupBy(strata) carrying the
    * four cell counts (binary×binary ⇒ four conditional sums, no cell
    * grid at all), then a scalar aggregate over the |strata|-row table.
    * Output (one row): n_strata, n, n_skipped, cmh6, or_mh6.
    */
  def cmh2x2(df: DataFrame, strataKeys: Seq[String], aCol: String,
      bCol: String): DataFrame = {
    require(strataKeys.nonEmpty, "cmh2x2 needs at least one stratum key")
    val nn = Keyed.guard(strataKeys, Set("n_strata", "n", "n_skipped", "cmh6",
      "or_mh6", "__a", "__b", "o11", "o10", "o01", "o00", "__n", "__d9",
      "__v9", "__p9", "__q9"))
    val ks = strataKeys.map(col)
    val g = df.select(ks :+
        when(col(aCol).cast("long") === 1L, 1L).otherwise(0L).as("__a") :+
        when(col(bCol).cast("long") === 1L, 1L).otherwise(0L).as("__b"): _*)
      .where(nn)
      .groupBy(ks: _*)
      .agg(sum(col("__a") * col("__b")).as("o11"),
        sum(col("__a") * (lit(1L) - col("__b"))).as("o10"),
        sum((lit(1L) - col("__a")) * col("__b")).as("o01"),
        sum((lit(1L) - col("__a")) * (lit(1L) - col("__b"))).as("o00"),
        count(lit(1)).as("__n"))
    // per-stratum round-9 terms, computed only for informative strata
    val terms = g.select(
      col("__n"),
      expr("""CASE WHEN __n >= 2 THEN ROUND(
                CAST(o11 AS DOUBLE) -
                CAST(o11 + o10 AS DOUBLE) * (o11 + o01) / __n, 9)
              END""").as("__d9"),
      expr("""CASE WHEN __n >= 2 THEN ROUND(
                CAST(o11 + o10 AS DOUBLE) * (o01 + o00) * (o11 + o01)
                  * (o10 + o00)
                  / (CAST(__n AS DOUBLE) * __n * (__n - 1)), 9)
              END""").as("__v9"),
      expr("""CASE WHEN __n >= 2 THEN ROUND(
                CAST(o11 AS DOUBLE) * o00 / __n, 9) END""").as("__p9"),
      expr("""CASE WHEN __n >= 2 THEN ROUND(
                CAST(o10 AS DOUBLE) * o01 / __n, 9) END""").as("__q9"))
    def decSum9(c: Column): Column =
      coalesce(sum(c.cast(DecimalType(24, 9))),
        lit(0).cast(DecimalType(24, 9))).cast("double")
    terms.agg(
        count(lit(1)).as("n_strata"),
        coalesce(sum(col("__n")), lit(0L)).as("n"),
        coalesce(sum(when(col("__n") < 2, 1L).otherwise(0L)), lit(0L))
          .as("n_skipped"),
        decSum9(col("__d9")).as("__sd"),
        decSum9(col("__v9")).as("__sv"),
        decSum9(col("__p9")).as("__sp"),
        decSum9(col("__q9")).as("__sq"))
      .select(col("n_strata"), col("n"), col("n_skipped"),
        expr("""CASE WHEN __sv <= 0.0 THEN 0.0
                ELSE ROUND(__sd * __sd / __sv, 6) END""").as("cmh6"),
        expr("""CASE WHEN __sq <= 0.0 THEN NULL
                ELSE ROUND(__sp / __sq, 6) END""").as("or_mh6"))
  }

  /** McNemar's test for PAIRED binary decisions (McNemar 1947,
    * uncorrected) — the policy-migration dial of the association family:
    * when two keep/drop policies score the SAME documents, agreement
    * metrics (kappa, q154) ask "how similar are they", McNemar asks the
    * migration question — "is the disagreement DIRECTIONAL, i.e. does
    * policy B systematically keep documents A drops (or vice versa),
    * beyond coin-flip noise?" Only the discordant pairs carry
    * information:
    *   χ²₁ = (n₁₀ − n₀₁)² / (n₁₀ + n₀₁).
    * EXACT integers end-to-end: mcnemar_micro = ⌊10⁶·(n₁₀−n₀₁)²/(n₁₀+n₀₁)⌋
    * in DECIMAL(38,0) — no doubles anywhere; trend = SIGN(n₁₀ − n₀₁)
    * (+1 ⇒ A keeps what B drops more often). Zero discordant pairs
    * (perfect agreement) reports 0. Truthy inputs binarize with the
    * label contract (=1/true ⇒ 1, else 0).
    *
    * Scale shape: ONE map-side-combinable scalar aggregate over the
    * paired rows — four conditional sums, no groupBy key at all, no
    * grid, no window, no join. Output (one row): n, n_both, n_a_only,
    * n_b_only, n_neither, trend, mcnemar_micro.
    */
  def mcnemar(df: DataFrame, aCol: String, bCol: String): DataFrame =
    df.select(
        when(col(aCol).cast("long") === 1L, 1L).otherwise(0L).as("__a"),
        when(col(bCol).cast("long") === 1L, 1L).otherwise(0L).as("__b"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("__a") * col("__b")), lit(0L)).as("n_both"),
        coalesce(sum(col("__a") * (lit(1L) - col("__b"))), lit(0L)).as("n_a_only"),
        coalesce(sum((lit(1L) - col("__a")) * col("__b")), lit(0L)).as("n_b_only"),
        coalesce(sum((lit(1L) - col("__a")) * (lit(1L) - col("__b"))), lit(0L))
          .as("n_neither"))
      .select(col("n"), col("n_both"), col("n_a_only"), col("n_b_only"),
        col("n_neither"),
        expr("CAST(SIGN(n_a_only - n_b_only) AS BIGINT)").as("trend"),
        expr("""CASE WHEN n_a_only + n_b_only = 0 THEN 0
                ELSE CAST((CAST(1000000 AS DECIMAL(38,0))
                  * (n_a_only - n_b_only) * (n_a_only - n_b_only))
                  DIV (n_a_only + n_b_only) AS BIGINT) END""")
          .as("mcnemar_micro"))

  /** Cochran–Armitage trend test of a binary outcome across ORDERED
    * integer groups (Cochran 1954, Armitage 1955) — the dose-response
    * member of the association family: χ² (q201) asks "is there ANY
    * association between band and outcome", the trend test asks the
    * question a curation dashboard actually means — "does the keep/label
    * rate rise or fall MONOTONICALLY with the band" — and it spends its
    * single degree of freedom on exactly that, so it fires at sample
    * sizes where the omnibus χ² is still noise.
    *
    * Exact-integer contract: with group weights w = the band value,
    * N rows, R positives, S1 = Σ w·o1, S2 = Σ w·n, Q = Σ w²·n:
    *   A = N·S1 − R·S2,  B = N·Q − S2²,
    *   Z² = N·A² / (R·(N−R)·B)
    * — A and B are EXACT integers in DECIMAL(38,0) (A ≤ w·N², safe past
    * 10¹⁷ rows), and ca6 is the round-6 double of the exact integers
    * with IDENTICAL expression text in both engines (the binaryAucSe
    * precedent). trend = SIGN(A) (+1 rate rises with the band, −1
    * falls, 0 flat). Degenerate inputs (R = 0, R = N, or a single/
    * constant band making B = 0) report ca6 = 0. Complete-case on the
    * band.
    *
    * Scale shape: ONE map-side-combinable groupBy over the bounded band
    * table, then a scalar aggregate — no grid, no window, no join.
    * Output (one row): n, n_pos, n_groups, trend, ca6.
    */
  def trendTest(df: DataFrame, bandCol: String, labelCol: String): DataFrame =
    trendTestBy(df, Nil, bandCol, labelCol)

  /** [[trendTest]] per key group — the dose-response slice dashboard
    * completing the keyed eval-stat matrix (every other association dial
    * already has its keyed twin: χ²/MI/Spearman/τ-b/AUC/AP): does the
    * keep/label rate rise or fall monotonically with the band in EVERY
    * slice, or does one source invert the dose-response the pooled test
    * (q225) reports? Same exact-integer contract as the global form —
    * A and B in DECIMAL(38,0), ca6 the round-6 double of the exact
    * integers with identical expression text in both engines, degenerate
    * slices (all/no positives, constant band) report ca6 = 0.
    *
    * Scale shape: ONE map-side-combinable groupBy over the bounded
    * (keys × band) table, then a keyed aggregate — no grid, no window,
    * no join, zero SinglePartition anywhere. Complete-case on keys and
    * the band. Output (one row per group): keys…, n, n_pos, n_groups,
    * trend, ca6. `keys = Nil` is [[trendTest]]: one all-zero row on empty
    * input.
    */
  def trendTestBy(df: DataFrame, keys: Seq[String], bandCol: String,
      labelCol: String): DataFrame = {
    val nn = Keyed.guard(keys, Set("n", "n_pos", "n_groups", "trend", "ca6",
      "__w", "__y", "__n", "__p", "__s1", "__s2", "__q", "__a", "__b"))
    val ks = keys.map(col)
    val g = df.select(ks :+ col(bandCol).cast("long").as("__w") :+
        when(col(labelCol).cast("long") === 1L, 1L).otherwise(0L).as("__y"): _*)
      .where(col("__w").isNotNull && nn)
      .groupBy(ks :+ col("__w"): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__p"))
    g.groupBy(ks: _*).agg(
        coalesce(sum(col("__n")), lit(0L)).as("n"),
        coalesce(sum(col("__p")), lit(0L)).as("n_pos"),
        count(lit(1)).as("n_groups"),
        coalesce(sum(col("__w").cast(DecimalType(38, 0)) * col("__p")),
          lit(0).cast(DecimalType(38, 0))).as("__s1"),
        coalesce(sum(col("__w").cast(DecimalType(38, 0)) * col("__n")),
          lit(0).cast(DecimalType(38, 0))).as("__s2"),
        coalesce(sum(col("__w").cast(DecimalType(38, 0)) * col("__w") *
          col("__n")), lit(0).cast(DecimalType(38, 0))).as("__q"))
      .withColumn("__a", expr("CAST(n AS DECIMAL(38,0)) * __s1 - CAST(n_pos AS DECIMAL(38,0)) * __s2"))
      .withColumn("__b", expr("CAST(n AS DECIMAL(38,0)) * __q - __s2 * __s2"))
      .select(ks ++ Seq(col("n"), col("n_pos"), col("n_groups"),
        expr("CAST(SIGN(__a) AS BIGINT)").as("trend"),
        expr("""CASE WHEN n_pos = 0 OR n_pos = n OR __b <= 0 THEN 0.0
                ELSE ROUND(CAST(n AS DOUBLE) * CAST(__a AS DOUBLE)
                  * CAST(__a AS DOUBLE)
                  / (CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE)
                     * CAST(__b AS DOUBLE)), 6) END""").as("ca6")): _*)
  }

  /** Deterministic randomization (permutation) test for a rate difference
    * between two groups (Fisher 1935; the md5-coin form of the q219
    * bootstrap discipline) — the assumption-free significance dial: the
    * z/χ² family leans on normal approximations that misbehave on tiny
    * or lopsided slices, while the permutation p needs NOTHING beyond
    * exchangeability under H₀. Each of `resamples` pseudo-permutations
    * reassigns every row to group A' iff its 60-bit md5 prefix of
    * (id, b) clears thr = ⌊2⁶⁰·n_A/N⌋ (binomial reassignment — the
    * standard large-n randomization-test variant of the fixed-margin
    * permutation; both engines evaluate the SAME hash against the SAME
    * integer threshold, so every resample replays bit-for-bit);
    * p = (#{|d_b| ≥ |d_obs|} + 1) / (B + 1) (the add-one "at least as
    * extreme including the identity" convention, never exactly 0).
    *
    * Exact-integer contract: rate diffs ride micro-units with DECIMAL
    * numerators and floor DIV (d = ⌊10⁶·x₁/n₁⌋ − ⌊10⁶·x₂/n₂⌋); the
    * degenerate resample that empties a side (P ≈ 2⁻ⁿ) reports d_b = 0,
    * deterministically in both engines. Complete-case on id.
    *
    * Scale shape: the ×B expansion is map-side CPU (hash + flag +
    * partial agg) — shuffle volume is the B-row per-resample table plus
    * one broadcast 1-row totals/observed frame; nothing row-sized
    * crosses a partition boundary. Output (one row): n_a, n_b, x_a,
    * x_b, d_obs_micro, b, n_ge, p_micro.
    */
  def permTestRate(df: DataFrame, idCol: String, groupCol: String,
      labelCol: String, groupA: String, groupB: String,
      resamples: Int = 128): DataFrame =
    permTestRateBy(df, Nil, idCol, groupCol, labelCol, groupA, groupB, resamples)

  /** [[permTestRate]] per key group — the assumption-free significance
    * dial per slice, keeping the keyed-twin symmetry of the eval matrix
    * (and exactly where the permutation test matters most: small or
    * lopsided slices are where the z/χ² normal approximations break).
    * Each key draws its own coin threshold ⌊2⁶⁰·n_A/N⌋ from ITS margins
    * and the coins hash only (id, resample), so the keyed output equals
    * running the global test on each slice alone (spec-pinned). All
    * joins/aggregates keyed — zero SinglePartition; shuffle volume is
    * the (keys × B) resample table. Output (one row per key): keys…,
    * n_a, n_b, x_a, x_b, d_obs_micro, b, n_ge, p_micro. `keys = Nil` is
    * [[permTestRate]]: one row (b = 0, p_micro = 10⁶) on empty input.
    */
  def permTestRateBy(df: DataFrame, keys: Seq[String], idCol: String,
      groupCol: String, labelCol: String, groupA: String, groupB: String,
      resamples: Int = 128): DataFrame = {
    val nn = Keyed.guard(keys, Set("n_a", "n_b", "x_a", "x_b", "d_obs_micro",
      "b", "n_ge", "p_micro", "__id", "__ia", "__y", "__thr", "__b", "__ca",
      "__n1", "__x1", "__n2", "__x2", "__d", "__do"))
    val ks = keys.map(col)
    val base = df.filter(col(groupCol).isin(groupA, groupB))
      .select(ks :+ col(idCol).cast("string").as("__id") :+
        when(col(groupCol) === groupA, 1L).otherwise(0L).as("__ia") :+
        when(col(labelCol).cast("long") === 1L, 1L).otherwise(0L).as("__y"): _*)
      .where(col("__id").isNotNull && nn)
    val obs = base.groupBy(ks: _*).agg(
        coalesce(sum(col("__ia")), lit(0L)).as("n_a"),
        coalesce(sum(lit(1L) - col("__ia")), lit(0L)).as("n_b"),
        coalesce(sum(col("__ia") * col("__y")), lit(0L)).as("x_a"),
        coalesce(sum((lit(1L) - col("__ia")) * col("__y")), lit(0L)).as("x_b"))
      .withColumn("d_obs_micro", expr(
        """CASE WHEN n_a = 0 OR n_b = 0 THEN 0 ELSE
          |CAST((CAST(1000000 AS DECIMAL(38,0)) * x_a) DIV n_a
          |  - (CAST(1000000 AS DECIMAL(38,0)) * x_b) DIV n_b AS BIGINT)
          |END""".stripMargin))
      // ⌊2⁶⁰·n_A/N⌋ — the exact integer coin threshold both engines share
      .withColumn("__thr", expr(
        """CASE WHEN n_a + n_b = 0 THEN 0L ELSE
          |CAST((CAST(1152921504606846976 AS DECIMAL(38,0)) * n_a)
          |  DIV (n_a + n_b) AS BIGINT) END""".stripMargin))
    val h = "CAST(CONV(SUBSTRING(MD5(CONCAT(__id, ':', CAST(__b AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    val perB = base
      .withColumn("__b", explode(sequence(lit(0), lit(resamples - 1))))
      .join(Keyed.side(obs.select(ks :+ col("__thr"): _*), keys), keys)
      .withColumn("__ca", when(expr(h) < col("__thr"), 1L).otherwise(0L))
      .groupBy(ks :+ col("__b"): _*)
      .agg(sum(col("__ca")).as("__n1"),
        sum(col("__ca") * col("__y")).as("__x1"),
        sum(lit(1L) - col("__ca")).as("__n2"),
        sum((lit(1L) - col("__ca")) * col("__y")).as("__x2"))
      .withColumn("__d", expr(
        """CASE WHEN __n1 = 0 OR __n2 = 0 THEN 0 ELSE
          |CAST((CAST(1000000 AS DECIMAL(38,0)) * __x1) DIV __n1
          |  - (CAST(1000000 AS DECIMAL(38,0)) * __x2) DIV __n2 AS BIGINT)
          |END""".stripMargin))
    perB.join(Keyed.side(obs.select(ks :+ col("d_obs_micro").as("__do"): _*), keys), keys)
      .groupBy(ks: _*)
      .agg(count(lit(1)).as("b"),
        coalesce(sum(when(abs(col("__d")) >= abs(col("__do")), 1L)
          .otherwise(0L)), lit(0L)).as("n_ge"))
      .join(Keyed.side(obs.drop("__thr"), keys), keys)
      .select(ks ++ Seq(col("n_a"), col("n_b"), col("x_a"), col("x_b"),
        col("d_obs_micro"), col("b"), col("n_ge"),
        expr("CAST((1000000 * (n_ge + 1)) DIV (b + 1) AS BIGINT)")
          .as("p_micro")): _*)
  }

  /** Deterministic randomization test for a MEAN difference between two
    * groups — [[permTestRate]]'s continuous-outcome twin, completing the
    * assumption-free family (rates answer "did the long-doc share move";
    * means answer "did the average length/score itself move", and the
    * t-test's normality lean is exactly what a permutation p avoids on
    * skewed length/score distributions). Identical md5-coin binomial
    * reassignment: each of `resamples` pseudo-permutations reassigns a
    * row to group A' iff its 60-bit md5 prefix of (id, b) clears
    * thr = ⌊2⁶⁰·n_A/N⌋; p = (#{|d_b| ≥ |d_obs|} + 1)/(B + 1).
    *
    * Exact-integer contract: values Long-cast, group sums carried as
    * DECIMAL(38,0); micro-mean diffs d = (10⁶·s₁) DIV n₁ − (10⁶·s₂) DIV
    * n₂ — and DIV here is TRUNCATING division in BOTH engines (Spark
    * `DIV` and DuckDB `//` are C-semantics, verified on negative
    * operands), so negative-valued columns replay bit-for-bit too. A
    * resample that empties a side reports d_b = 0 (the [[permTestRate]]
    * degenerate convention). Complete-case on id AND value. Safe while
    * 10⁶·|Σx| < 10³⁸ (~10¹⁵ rows at 10¹⁶-scale values). Scale shape
    * unchanged from the rate twin: the ×B expansion is map-side, shuffle
    * is the B-row resample table. Output (one row): n_a, n_b, s_a, s_b
    * (the exact value sums as BIGINT), d_obs_micro, b, n_ge, p_micro.
    */
  def permTestMean(df: DataFrame, idCol: String, groupCol: String,
      valueCol: String, groupA: String, groupB: String,
      resamples: Int = 128): DataFrame =
    permTestMeanBy(df, Nil, idCol, groupCol, valueCol, groupA, groupB, resamples)

  /** [[permTestMean]] per key group — the keyed twin, mirroring
    * [[permTestRateBy]]: each key draws its own coin threshold from ITS
    * margins and the coins hash only (id, resample), so the keyed output
    * equals running the global test on each slice alone (spec-pinned).
    * All joins/aggregates keyed — zero SinglePartition; shuffle volume is
    * the (keys × B) resample table. Output (one row per key): keys…,
    * n_a, n_b, s_a, s_b, d_obs_micro, b, n_ge, p_micro. `keys = Nil` is
    * [[permTestMean]]: one row (b = 0, p_micro = 10⁶) on empty input.
    */
  def permTestMeanBy(df: DataFrame, keys: Seq[String], idCol: String,
      groupCol: String, valueCol: String, groupA: String, groupB: String,
      resamples: Int = 128): DataFrame = {
    val nn = Keyed.guard(keys, Set("n_a", "n_b", "s_a", "s_b", "d_obs_micro",
      "b", "n_ge", "p_micro", "__id", "__ia", "__x", "__thr", "__b", "__ca",
      "__n1", "__x1", "__n2", "__x2", "__d", "__sa", "__sb", "__do"))
    val ks = keys.map(col)
    val base = df.filter(col(groupCol).isin(groupA, groupB))
      .select(ks :+ col(idCol).cast("string").as("__id") :+
        when(col(groupCol) === groupA, 1L).otherwise(0L).as("__ia") :+
        col(valueCol).cast("long").as("__x"): _*)
      .where(col("__id").isNotNull && col("__x").isNotNull && nn)
    val obs = base.groupBy(ks: _*).agg(
        coalesce(sum(col("__ia")), lit(0L)).as("n_a"),
        coalesce(sum(lit(1L) - col("__ia")), lit(0L)).as("n_b"),
        coalesce(sum((col("__ia") * col("__x")).cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0))).as("__sa"),
        coalesce(sum(((lit(1L) - col("__ia")) * col("__x"))
          .cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0))).as("__sb"))
      .withColumn("d_obs_micro", expr(
        """CASE WHEN n_a = 0 OR n_b = 0 THEN 0 ELSE
          |CAST((CAST(1000000 AS DECIMAL(38,0)) * __sa) DIV n_a
          |  - (CAST(1000000 AS DECIMAL(38,0)) * __sb) DIV n_b AS BIGINT)
          |END""".stripMargin))
      // ⌊2⁶⁰·n_A/N⌋ — the exact integer coin threshold both engines share
      .withColumn("__thr", expr(
        """CASE WHEN n_a + n_b = 0 THEN 0L ELSE
          |CAST((CAST(1152921504606846976 AS DECIMAL(38,0)) * n_a)
          |  DIV (n_a + n_b) AS BIGINT) END""".stripMargin))
    val h = "CAST(CONV(SUBSTRING(MD5(CONCAT(__id, ':', CAST(__b AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    val perB = base
      .withColumn("__b", explode(sequence(lit(0), lit(resamples - 1))))
      .join(Keyed.side(obs.select(ks :+ col("__thr"): _*), keys), keys)
      .withColumn("__ca", when(expr(h) < col("__thr"), 1L).otherwise(0L))
      .groupBy(ks :+ col("__b"): _*)
      .agg(sum(col("__ca")).as("__n1"),
        sum((col("__ca") * col("__x")).cast(DecimalType(38, 0))).as("__s1"),
        sum(lit(1L) - col("__ca")).as("__n2"),
        sum(((lit(1L) - col("__ca")) * col("__x")).cast(DecimalType(38, 0)))
          .as("__s2"))
      .withColumn("__d", expr(
        """CASE WHEN __n1 = 0 OR __n2 = 0 THEN 0 ELSE
          |CAST((CAST(1000000 AS DECIMAL(38,0)) * __s1) DIV __n1
          |  - (CAST(1000000 AS DECIMAL(38,0)) * __s2) DIV __n2 AS BIGINT)
          |END""".stripMargin))
    perB.join(Keyed.side(obs.select(ks :+ col("d_obs_micro").as("__do"): _*), keys), keys)
      .groupBy(ks: _*)
      .agg(count(lit(1)).as("b"),
        coalesce(sum(when(abs(col("__d")) >= abs(col("__do")), 1L)
          .otherwise(0L)), lit(0L)).as("n_ge"))
      .join(Keyed.side(obs.drop("__thr"), keys), keys)
      .select(ks ++ Seq(col("n_a"), col("n_b"),
        col("__sa").cast("long").as("s_a"), col("__sb").cast("long").as("s_b"),
        col("d_obs_micro"), col("b"), col("n_ge"),
        expr("CAST((1000000 * (n_ge + 1)) DIV (b + 1) AS BIGINT)")
          .as("p_micro")): _*)
  }

  /** Two-sided normal-tail p-value in MICRO-UNITS from an exact rational
    * z² = `__zn`/`__zd` (append via [[withTwoSidedNormPMicro]]): the
    * bridge between the exact-integer test statistics this module emits
    * and the p-scale that multiple-comparison control ([[bhFdr]]) needs.
    * p = erfc(√(z²/2)) via the Abramowitz & Stegun 7.1.26 rational
    * approximation (|ε| ≤ 1.5·10⁻⁷ — below the micro quantum) — chosen
    * because it needs only SQRT/EXP/polynomial, which DuckDB and Spark
    * both evaluate as IEEE doubles, so the oracle mirrors carry the
    * IDENTICAL expression text (the q86 LN-agreement precedent; `e0`
    * literals keep DuckDB's parser in DOUBLE, not DECIMAL). Degenerate
    * denominators (`__zd` ≤ 0: empty/constant margins) report p = 10⁶
    * ("no evidence"), never a divide error. The three step texts are
    * public so query mirrors splice them verbatim.
    */
  val ZSqXqSql: String =
    "CASE WHEN __zd <= 0 THEN 0.0e0 ELSE " +
      "SQRT(CAST(__zn AS DOUBLE) / (2.0e0 * CAST(__zd AS DOUBLE))) END"
  val ErfcTSql: String = "1.0e0 / (1.0e0 + 0.3275911e0 * __xq)"
  val ErfcPMicroSql: String =
    "CASE WHEN __zd <= 0 THEN 1000000 ELSE " +
      "CAST(ROUND(1000000.0e0 * (((((1.061405429e0 * __t - 1.453152027e0) " +
      "* __t + 1.421413741e0) * __t - 0.284496736e0) * __t " +
      "+ 0.254829592e0) * __t) * EXP(-__xq * __xq), 0) AS BIGINT) END"

  /** Appends `p_micro` from exact-integer columns `__zn` (z² numerator)
    * and `__zd` (z² denominator) — see [[ZSqXqSql]]. Intermediates ride
    * named columns so each step's expression text matches the oracle
    * CTE chain one-for-one. */
  def withTwoSidedNormPMicro(df: DataFrame): DataFrame =
    df.withColumn("__xq", expr(ZSqXqSql))
      .withColumn("__t", expr(ErfcTSql))
      .withColumn("p_micro", expr(ErfcPMicroSql))
      .drop("__xq", "__t")

  /** Benjamini–Hochberg step-up FDR control over a slice dashboard
    * (Benjamini & Hochberg 1995) — the missing layer once every keyed
    * statistic emits a 100-slice p-column: reading 100 p-values at
    * α = 0.05 expects 5 false alarms, so at corpus scale slice alarms
    * are DOMINATED by false discoveries unless corrected. BH sorts the
    * m p-values, finds the largest k with p₍ₖ₎ ≤ α·k/m, and flags
    * everything at or below p₍ₖ₎ — controlling the expected FALSE-
    * DISCOVERY fraction at α (vs Bonferroni's family-wise rate, which
    * buys its guarantee with m× the misses).
    *
    * Exact-integer contract: input p-values are micro-units
    * (`p_micro` ∈ [0, 10⁶], e.g. [[withTwoSidedNormPMicro]]); the
    * step-up condition evaluates as `p_micro·m ≤ alphaMicro·rank` in
    * Long arithmetic — no doubles anywhere (safe to m ≈ 9·10¹² slices).
    * Ties share the MAX rank (testing a tied value at its highest index
    * is the lenient—and correct—step-up reading). Output = every input
    * row (complete-case on the p column) + `bh_rank` (max-tie rank),
    * `m`, `bh_thresh_micro` (the step-up threshold p₍ₖ₎, −1 when
    * nothing clears), `significant` (1/0).
    *
    * Scale shape: the input IS a slice table (bounded by the dashboard's
    * key cardinality, not the corpus), but the machinery still follows
    * the [[ksTwoSampleFromCounts]] two-phase discipline — distinct-p
    * count table, equal-width bucket cumulative for the max-tie rank
    * (only the ≤1025-row bucket-total table and the 1-row
    * stats/threshold aggregates cross a single partition), rank and
    * threshold re-attach by equi-join/broadcast — so a million-slice
    * dashboard still never funnels rows through one task.
    */
  def bhFdr(df: DataFrame, pMicroCol: String,
      alphaMicro: Long = 50000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alphaMicro > 0 && alphaMicro < 1000000,
      s"alphaMicro must be in (0, 1000000), got $alphaMicro")
    val reserved = Set("__pm", "__cnt", "__mn", "__mx", "__b", "__bt",
      "__off", "__sat", "__thr", "bh_rank", "m", "bh_thresh_micro",
      "significant")
    // no exemption for pMicroCol itself (ADVICE r18): a p column named
    // "m"/"bh_rank"/"significant" would survive the check but collide
    // with the re-emitted output columns after the __pm join
    require(!df.columns.exists(reserved),
      s"input columns may not collide with internals: ${reserved.mkString("/")}")
    val base = df.where(col(pMicroCol).isNotNull)
      .withColumn("__pm", col(pMicroCol).cast("long"))
    // distinct-p sized (≤10⁶ rows by the micro-unit domain) and read by
    // the stats broadcast AND the bucket pipeline — pinned so the caller's
    // upstream (typically a computed per-slice p table) runs once
    val g = pin(base.groupBy(col("__pm")).agg(count(lit(1)).as("__cnt")))
    val stats = g.agg(min(col("__pm")).as("__mn"), max(col("__pm")).as("__mx"),
      coalesce(sum(col("__cnt")), lit(0L)).as("m"))
    val bucketed = g.crossJoin(broadcast(stats.select(col("__mn"), col("__mx"))))
      .withColumn("__b", expr("(__pm - __mn) DIV ((__mx - __mn) DIV 1024 + 1)"))
      .drop("__mn", "__mx")
    val wOff = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("__b"))
      .agg(sum(col("__cnt")).as("__bt"))
      .withColumn("__off", coalesce(sum(col("__bt")).over(wOff), lit(0L)))
      .select(col("__b"), col("__off"))
    val wLoc = Window.partitionBy(col("__b")).orderBy(col("__pm"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same size as g; read by the step-up threshold aggregate AND the
    // final row-level join
    val ranked = pin(bucketed.join(broadcast(offsets), "__b")
      .withColumn("bh_rank", col("__off") + sum(col("__cnt")).over(wLoc))
      .crossJoin(broadcast(stats.select(col("m"))))
      .select(col("__pm"), col("bh_rank"), col("m")))
    val thr = ranked
      .agg(max(when(col("__pm") * col("m") <= lit(alphaMicro) * col("bh_rank"),
        col("__pm"))).as("__thr"))
    base.join(ranked, "__pm")
      .crossJoin(broadcast(thr))
      .withColumn("bh_thresh_micro", coalesce(col("__thr"), lit(-1L)))
      .withColumn("significant",
        when(col("__thr").isNotNull && col("__pm") <= col("__thr"), 1L)
          .otherwise(0L))
      .drop("__pm", "__thr")
  }

  /** Two-sided CUSUM change detection over an ordered integer series
    * (Page 1954) — the "page now" layer the drift statistics were
    * missing: KS/PSI/W1 score each snapshot, but a SMALL persistent
    * shift never crosses a per-snapshot threshold; CUSUM accumulates
    * exactly that evidence and fires when it exceeds `threshold`. The
    * classic one-sided recursions
    *   S⁺_t = max(0, S⁺_{t−1} + x_t − target − allowance)
    *   S⁻_t = max(0, S⁻_{t−1} + target − allowance − x_t)
    * evaluate WINDOW-CLOSED-FORM (no recursion): with
    * W_t = Σ_{i≤t}(x_i − target − allowance),
    *   S⁺_t = W_t − min(0, min_{j≤t} W_j)
    * (and symmetrically for S⁻) — two running sums and two running mins,
    * all exact Long integers, no doubles anywhere. `target` (the
    * in-control level), `allowance` (the slack κ — drifts smaller than
    * κ per step never accumulate) and `threshold` (h) are COLUMNS so a
    * caller can attach data-derived control limits (a broadcast 1-row
    * frame) or plain literals; they are read per row and normally
    * constant.
    *
    * Scale/shape contract: the input is a bounded SEQUENCE table (daily
    * counts, per-batch monitor emissions — thousands of rows, never the
    * corpus), ordered by a unique `ordCol` per key; the global form runs
    * one window over that bounded sequence (the bucket-total-table
    * sanction), [[cusumBy]] partitions every window by the keys. Output
    * (one row per input row): [keys…,] ord, x, s_hi, s_lo, alarm_hi,
    * alarm_lo (1/0 — s ≥ threshold).
    */
  def cusum(df: DataFrame, ordCol: String, xCol: String,
      targetCol: String, allowanceCol: String, thresholdCol: String): DataFrame =
    cusumBy(df, Nil, ordCol, xCol, targetCol, allowanceCol, thresholdCol)

  /** [[cusum]] per key group — one alarm state per slice/monitor, every
    * window partitioned by the keys (zero SinglePartition). `keys = Nil`
    * is [[cusum]]. */
  def cusumBy(df: DataFrame, keys: Seq[String], ordCol: String, xCol: String,
      targetCol: String, allowanceCol: String, thresholdCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the ord column is guarded like a key: it may not collide either, and
    // a NULL ord has no place in the sequence
    val nn = Keyed.guard(keys :+ ordCol, Set("__x", "__tg", "__ka", "__h",
      "__wp", "__wn", "s_hi", "s_lo", "alarm_hi", "alarm_lo"))
    val ks = keys.map(col)
    val base = df.select(ks ++ Seq(col(ordCol), col(xCol).cast("long").as("__x"),
        col(targetCol).cast("long").as("__tg"),
        col(allowanceCol).cast("long").as("__ka"),
        col(thresholdCol).cast("long").as("__h")): _*)
      .where(col("__x").isNotNull && nn)
    val w = Window.partitionBy(ks: _*).orderBy(col(ordCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("__wp", sum(col("__x") - col("__tg") - col("__ka")).over(w))
      .withColumn("__wn", sum(col("__tg") - col("__ka") - col("__x")).over(w))
      .withColumn("s_hi", col("__wp") - least(lit(0L), min(col("__wp")).over(w)))
      .withColumn("s_lo", col("__wn") - least(lit(0L), min(col("__wn")).over(w)))
      .select(ks ++ Seq(col(ordCol), col("__x").as("x"),
        col("s_hi"), col("s_lo"),
        when(col("s_hi") >= col("__h"), 1L).otherwise(0L).as("alarm_hi"),
        when(col("s_lo") >= col("__h"), 1L).otherwise(0L).as("alarm_lo")): _*)
  }

  /** Spearman rank correlation between two integer columns — the
    * monotone-association dial of the drift/QA family (is token count
    * still tracking char count, or did a re-tokenization break the
    * relationship?). Uses the classic Σd² form with AVERAGE ranks under
    * ties (the textbook extension; exact Pearson-on-ranks differs only
    * in the tie-mass normalization):
    * ρ = 1 − 6·Σd²/(n³ − n).
    *
    * Exact-integer quantization contract: doubled average ranks are
    * integral — 2·rank(x) = 2·cumBelow(x) + cnt(x) + 1 — so with
    * d2 = 2·rank_x − 2·rank_y (per row), Σd2² = 4Σd² and
    * rho_micro = 10⁶ − (3·10⁶·Σd2²) DIV (2·(n³ − n)), every step
    * integer, Σd2² ≤ 4n³ carried in DECIMAL(38,0)/HUGEINT (safe to
    * n = 10⁹). n < 2 (or a constant column making n³ − n = 0 share the
    * guard) reports rho_micro = 0.
    *
    * Scale shape: per-column distinct-value rank maps built with the
    * same equal-width two-phase cumulative as [[ksTwoSample]] (only
    * bucket-total tables cross SinglePartition), then two hash joins
    * attach the doubled ranks back to rows — shuffle keys are the value
    * columns, never a global sort or row-number. Output (one row):
    * n, rho_micro.
    */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame =
    spearmanBy(df, Nil, xCol, yCol)

  /** [[spearman]] per key group — the monotone-association slice
    * dashboard (is token count still tracking char count in EVERY
    * language?), the average-rank companion of [[kendallTauBBy]] for
    * fine-grained (lightly-tied) values where the dense grid would be
    * large. Same doubled-average-rank exact-integer contract as the
    * global form; per-key rank maps via the keyed two-phase bucket
    * cumulative (per-key min/max, windows partitioned by (keys) /
    * (keys, bucket) — a per-key bucket-total table is the only thing
    * crossing a key's window), ranks re-attach by keyed hash joins —
    * zero SinglePartition. Complete-case on keys and both columns
    * (pairwise deletion per key). Output (one row per key): keys…, n,
    * rho_micro. `keys = Nil` is [[spearman]]: one all-zero row on empty
    * input.
    *
    * Scan-count note: each axis' rank map reads the projected base once
    * more (build + re-attach ⇒ the source scans ~4×). Deliberately NOT
    * persisted here: the scan is a pruned two-column read that parquet
    * serves from the page cache, and q223's bench telemetry has it far
    * off the critical path (0.84 s at sf0.1 vs 24 s of window work at the
    * 10M gate). A caller whose input is an EXPENSIVE derived frame (not a
    * scan) should persist it before calling — CacheLife.scoped is the
    * house tool.
    */
  def spearmanBy(df: DataFrame, keys: Seq[String], xCol: String,
      yCol: String): DataFrame = {
    val nn = Keyed.guard(keys, Set("n", "rho_micro", "__x", "__y", "__v",
      "__cnt", "__mn", "__mx", "__b", "__bt", "__off", "__below", "__r2___x",
      "__r2___y", "__d2", "__s"))
    import org.apache.spark.sql.expressions.Window
    val ks = keys.map(col)
    def rankMap(rows: DataFrame, c: String): DataFrame = {
      val g = rows.groupBy(ks :+ col(c).as("__v"): _*)
        .agg(count(lit(1)).as("__cnt"))
      val stats = g.groupBy(ks: _*)
        .agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
      val bucketed = g.join(Keyed.side(stats, keys), keys)
        .withColumn("__b", expr("(__v - __mn) DIV ((__mx - __mn) DIV 1024 + 1)"))
        .drop("__mn", "__mx")
      val wOff = Window.partitionBy(ks: _*).orderBy(col("__b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = bucketed.groupBy(ks :+ col("__b"): _*)
        .agg(sum(col("__cnt")).as("__bt"))
        .withColumn("__off", coalesce(sum(col("__bt")).over(wOff), lit(0L)))
        .select(ks ++ Seq(col("__b"), col("__off")): _*)
      val wLoc = Window.partitionBy(ks :+ col("__b"): _*).orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      bucketed.join(Keyed.side(offsets, keys), keys :+ "__b")
        .withColumn("__below",
          col("__off") + coalesce(sum(col("__cnt")).over(wLoc), lit(0L)))
        .select(ks ++ Seq(col("__v").as(c),
          (col("__below") * 2 + col("__cnt") + 1).as(s"__r2_$c")): _*)
    }
    // complete-case: a null on either side would shift one column's rank
    // space (NULLS-FIRST into every bucket offset) while the pair itself
    // dropped out of the equi-join — Σd² would mix two inconsistent rank
    // spaces. Standard pairwise-deletion semantics instead.
    val base = df.select(ks :+ col(xCol).cast("long").as("__x") :+
        col(yCol).cast("long").as("__y"): _*)
      .where(col("__x").isNotNull && col("__y").isNotNull && nn)
    val joined = base
      .join(rankMap(base.select(ks :+ col("__x"): _*), "__x"), keys :+ "__x")
      .join(rankMap(base.select(ks :+ col("__y"): _*), "__y"), keys :+ "__y")
      .withColumn("__d2",
        (col("__r2___x") - col("__r2___y")).cast(DecimalType(38, 0)))
    joined.groupBy(ks: _*).agg(count(lit(1)).as("n"),
        coalesce(sum(col("__d2") * col("__d2")),
          lit(0).cast(DecimalType(38, 0))).as("__s"))
      .select(ks ++ Seq(col("n"),
        expr("""CASE WHEN n < 2 THEN 0 ELSE CAST(1000000 -
                  (CAST(3000000 AS DECIMAL(38,0)) * __s)
                  DIV (2 * (CAST(n AS DECIMAL(38,0)) * n * n - n))
                AS BIGINT) END""").as("rho_micro")): _*)
  }

  /** Kendall's τ-b rank correlation between two COARSE integer columns —
    * the tie-aware companion of [[spearman]] (τ-b is the standard
    * association dial for tied, bucketed scores: star ratings, quality
    * tiers, length buckets — exactly where Σd²-Spearman's tie correction
    * is weakest). With C = concordant pairs, D = discordant, n₁/n₂ the
    * within-tie pair counts of each column and n₀ = n(n−1)/2:
    *   τ-b = (C − D) / √((n₀ − n₁)(n₀ − n₂)).
    *
    * Exactness contract: C and D are EXACT integers from a dense-grid
    * double cumulative — cells = distinct (x, y) counts, densified to the
    * |X|×|Y| grid (the [[chiSquare]] boundedness contract: both columns
    * are bounded-cardinality by the operator's coarse-score contract;
    * this is NOT for near-continuous values — bucket first), then
    *   B(x,y) = #(x'<x ∧ y'<y) and A(x,y) = #(x'<x ∧ y'>y)
    * fall out of two chained windows, each partitioned by ONE axis
    * (PARTITION BY x ORDER BY y, then PARTITION BY y ORDER BY x) — zero
    * SinglePartition, no pair join: every concordant pair is counted
    * once by its dominant cell (C = Σ n·B, D = Σ n·A). Products ride
    * DECIMAL(38,0); the BIGINT outputs are exact to n ≈ 4·10⁹ rows
    * (C ≤ n²/2). τ-b itself is the round-6 double of the exact integers
    * with IDENTICAL expression text in both engines. Complete-case.
    * Degenerate inputs (n < 2, or a constant column making a denominator
    * factor ≤ 0) report tau_b6 = 0. Output (one row): n, conc, disc,
    * tie_x_pairs, tie_y_pairs, tau_b6.
    */
  def kendallTauB(df: DataFrame, xCol: String, yCol: String): DataFrame =
    kendallTauBBy(df, Nil, xCol, yCol)

  /** [[kendallTauB]] over a PRE-AGGREGATED (__x, __y, __o) distinct-cell
    * count table — the incremental form a streaming association monitor
    * maintains (the [[ksTwoSampleFromCounts]] contract: same-cell rows
    * combine, so a batch-delta store may carry duplicates; NULL axis
    * values are excluded). Cell deltas from disjoint batches SUM to the
    * whole-data cells — the group homomorphism every monitor store
    * rides — and the coarse-score contract bounds the store at the
    * |X|×|Y| cell count, not the row count. */
  def kendallTauBFromCounts(counts: DataFrame): DataFrame =
    kendallByCells(counts.where(col("__x").isNotNull && col("__y").isNotNull)
      .groupBy(col("__x"), col("__y")).agg(sum(col("__o")).as("__o")), Nil)

  /** [[kendallTauB]] per key group — the tie-aware association slice
    * dashboard (is the length↔token relationship still monotone in EVERY
    * language, or did one slice's re-tokenization break it?). Same
    * exactness and coarse-score boundedness contract as the global form;
    * the dense grid densifies per key (a keyed equi-join of the per-key
    * axis tables — no cross join), every window partitioned by
    * (keys, one axis), every aggregate and join keyed — zero
    * SinglePartition. Complete-case on keys and both columns. Output
    * (one row per key): keys…, n, conc, disc, tie_x_pairs, tie_y_pairs,
    * tau_b6. `keys = Nil` is [[kendallTauB]]: one all-zero row on empty
    * input.
    */
  def kendallTauBBy(df: DataFrame, keys: Seq[String], xCol: String,
      yCol: String): DataFrame = {
    val nn = Keyed.guard(keys, Set("n", "conc", "disc", "tie_x_pairs",
      "tie_y_pairs", "tau_b6", "__x", "__y", "__o", "__tx", "__ty", "__cyb",
      "__cya", "__bb", "__ba", "__conc", "__disc", "__tx2", "__ty2"))
    val ks = keys.map(col)
    kendallByCells(df.select(ks :+ col(xCol).cast("long").as("__x") :+
        col(yCol).cast("long").as("__y"): _*)
      .where(col("__x").isNotNull && col("__y").isNotNull && nn)
      .groupBy(ks ++ Seq(col("__x"), col("__y")): _*)
      .agg(count(lit(1)).as("__o")), keys)
  }

  /** τ-b over a (keys…, __x, __y, __o) table with one row per observed
    * cell. */
  private def kendallByCells(cells: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ks = keys.map(col)
    val dx = cells.groupBy(ks :+ col("__x"): _*).agg(sum(col("__o")).as("__tx"))
    val dy = cells.groupBy(ks :+ col("__y"): _*).agg(sum(col("__o")).as("__ty"))
    // dense per-key |X|×|Y| grid — bounded by the coarse-score contract
    // (the chiSquare precedent): the axis tables join on the KEYS, so a
    // slice only densifies against its own values; zero-fill so the window
    // cumulatives see every (x, y) combination
    val grid = dx.select(ks :+ col("__x"): _*)
      .join(dy.select(ks :+ col("__y"): _*), keys)
      .join(cells, keys ++ Seq("__x", "__y"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L)))
    val wYup = Window.partitionBy(ks :+ col("__x"): _*).orderBy(col("__y"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wYdn = Window.partitionBy(ks :+ col("__x"): _*).orderBy(col("__y"))
      .rowsBetween(1, Window.unboundedFollowing)
    val slice = grid
      .withColumn("__cyb", coalesce(sum(col("__o")).over(wYup), lit(0L)))
      .withColumn("__cya", coalesce(sum(col("__o")).over(wYdn), lit(0L)))
    val wXup = Window.partitionBy(ks :+ col("__y"): _*).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dom = slice
      .withColumn("__bb", coalesce(sum(col("__cyb")).over(wXup), lit(0L)))
      .withColumn("__ba", coalesce(sum(col("__cya")).over(wXup), lit(0L)))
    val sums = dom.groupBy(ks: _*).agg(
      coalesce(sum(col("__o")), lit(0L)).as("n"),
      coalesce(sum(col("__o").cast(DecimalType(38, 0)) * col("__bb")),
        lit(0).cast(DecimalType(38, 0))).as("__conc"),
      coalesce(sum(col("__o").cast(DecimalType(38, 0)) * col("__ba")),
        lit(0).cast(DecimalType(38, 0))).as("__disc"))
    val tiesX = dx.groupBy(ks: _*).agg(coalesce(
      sum(col("__tx").cast(DecimalType(38, 0)) * (col("__tx") - 1)),
      lit(0).cast(DecimalType(38, 0))).as("__tx2"))
    val tiesY = dy.groupBy(ks: _*).agg(coalesce(
      sum(col("__ty").cast(DecimalType(38, 0)) * (col("__ty") - 1)),
      lit(0).cast(DecimalType(38, 0))).as("__ty2"))
    sums.join(Keyed.side(tiesX, keys), keys).join(Keyed.side(tiesY, keys), keys)
      .select(ks ++ Seq(col("n"),
        expr("CAST(__conc AS BIGINT)").as("conc"),
        expr("CAST(__disc AS BIGINT)").as("disc"),
        expr("CAST(__tx2 DIV 2 AS BIGINT)").as("tie_x_pairs"),
        expr("CAST(__ty2 DIV 2 AS BIGINT)").as("tie_y_pairs")): _*)
      .withColumn("tau_b6", expr(
        """CASE WHEN n < 2
             OR CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) DIV 2 AS BIGINT)
                - tie_x_pairs <= 0
             OR CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) DIV 2 AS BIGINT)
                - tie_y_pairs <= 0 THEN 0.0
           ELSE ROUND(CAST(conc - disc AS DOUBLE) /
             (SQRT(CAST(CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) DIV 2 AS BIGINT)
                - tie_x_pairs AS DOUBLE)) *
              SQRT(CAST(CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) DIV 2 AS BIGINT)
                - tie_y_pairs AS DOUBLE))), 6) END"""))
  }

  /** (keys…, v, ca, cb): per distinct integer value, the group-A and
    * group-B row counts — the mergeable value-count store the drift
    * monitors keep (KS, PSI, W1, JS and the W1 attribution all read it).
    * Complete-case on the value and, through `nn` (the [[Keyed.guard]]
    * filter), on the keys. */
  private def valueCounts(df: DataFrame, keys: Seq[String], valueCol: String,
      groupCol: String, groupA: String, groupB: String, nn: Column): DataFrame = {
    val ks = keys.map(col)
    df.filter(col(groupCol).isin(groupA, groupB))
      .select(ks :+ col(valueCol).cast("long").as("v") :+
        when(col(groupCol) === groupA, 1L).otherwise(0L).as("__ia"): _*)
      .where(col("v").isNotNull && nn)
      .groupBy(ks :+ col("v"): _*)
      .agg(sum(col("__ia")).as("ca"), sum(lit(1L) - col("__ia")).as("cb"))
  }

  /** A (v, ca, cb) count-delta store with same-value rows combined and
    * NULL values EXCLUDED — what every value-store `*FromCounts` reader
    * sees. A null group would fold into every cumulative offset via
    * NULLS-FIRST ordering yet never surface as a candidate (the
    * null-unsafe offsets join drops it). */
  private def mergedValueCounts(counts: DataFrame): DataFrame =
    counts.where(col("v").isNotNull).groupBy(col("v"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))

  /** Two-sample Kolmogorov–Smirnov statistic over an integer value column
    * between two groups — the ordered-axis drift detector that
    * [[bucketDrift]]'s per-bucket shares can't see (a mass shift between
    * ADJACENT buckets barely moves L1 shares but stacks up in the CDF
    * gap). D = max_v |F_a(v) − F_b(v)| in exact integer micro-units
    * (per-side floors: cum·10⁶ DIV n — the quantization contract both
    * engines replay bit-for-bit).
    *
    * Scale shape: one map-side-combinable groupBy over DISTINCT values
    * (never the row count), then the two-phase cumulative discipline of
    * [[TextOps.vocabCoverage]] — equal-width order-preserving buckets
    * from a min/max pass (reused exchange; magnitude buckets would park
    * half a uniform value range in one bucket — see [[LmOps.binaryAuc]]),
    * per-bucket parallel windows, only the ≤1025-row bucket-total table
    * crossing SinglePartition — and a rank ≤ 1 window for the argmax
    * (ties break to the smallest value). No global sort, no row-level
    * rank.
    *
    * Output (one row): at_value (smallest value attaining D), n_a, n_b,
    * cum_a, cum_b (counts ≤ at_value), d_micro. An empty side makes D
    * undefined — the row reports d_micro = 0 rather than a null/divide
    * error (deterministic in both engines).
    */
  def ksTwoSample(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame =
    ksTwoSampleBy(df, Nil, valueCol, groupCol, groupA, groupB)

  /** [[ksTwoSample]] over a PRE-AGGREGATED (v, ca, cb) count table — the
    * incremental form a streaming drift monitor maintains (the
    * [[bucketDriftFromCounts]] contract). Rows with the same value are
    * combined, so a delta store may carry duplicates. NULL values are
    * EXCLUDED (complete-case; see [[mergedValueCounts]]) — a null group
    * would silently underreport D when the gap sits at the null mass.
    */
  def ksTwoSampleFromCounts(counts: DataFrame): DataFrame =
    ksByCounts(mergedValueCounts(counts), Nil)

  /** [[ksTwoSample]] per key group — the drift slice dashboard (which
    * language / time bucket / shard pair actually moved?), the
    * [[LmOps.binaryAucBy]] pattern applied to the CDF gap: per-key
    * bucket widths from a keyed min/max join, every window partitioned
    * by (keys) or (keys, b), and the per-key argmax as a rank ≤ 1
    * window (WindowGroupLimit — map-side group limit, no global sort) —
    * NO SinglePartition exchange anywhere. Null values and null keys
    * are complete-case like the global form. Output (one row per key
    * with both sides observed… or one side empty → d_micro 0):
    * keys…, at_value, n_a, n_b, cum_a, cum_b, d_micro. `keys = Nil` is
    * [[ksTwoSample]]: no rows on empty input.
    */
  def ksTwoSampleBy(df: DataFrame, keys: Seq[String], valueCol: String,
      groupCol: String, groupA: String, groupB: String): DataFrame = {
    val nn = Keyed.guard(keys, Set("v", "ca", "cb", "b", "ba", "bb", "off_a",
      "off_b", "cum_a", "cum_b", "n_a", "n_b", "d_micro", "at_value", "__ia",
      "__rn", "__mn", "__mx"))
    ksByCounts(valueCounts(df, keys, valueCol, groupCol, groupA, groupB, nn), keys)
  }

  /** KS over a (keys…, v, ca, cb) table with one row per (keys, v). */
  private def ksByCounts(g: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ks = keys.map(col)
    val stats = g.groupBy(ks: _*)
      .agg(min(col("v")).as("__mn"), max(col("v")).as("__mx"),
        sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val bucketed = g.join(Keyed.side(stats, keys), keys)
      .withColumn("b", expr("(v - __mn) DIV ((__mx - __mn) DIV 1024 + 1)"))
      .drop("__mn", "__mx")
    val wOff = Window.partitionBy(ks: _*).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(ks :+ col("b"): _*)
      .agg(sum(col("ca")).as("ba"), sum(col("cb")).as("bb"))
      .withColumn("off_a", coalesce(sum(col("ba")).over(wOff), lit(0L)))
      .withColumn("off_b", coalesce(sum(col("bb")).over(wOff), lit(0L)))
      .select(ks :+ col("b") :+ col("off_a") :+ col("off_b"): _*)
    val wLoc = Window.partitionBy(ks :+ col("b"): _*).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPick = Window.partitionBy(ks: _*)
      .orderBy(col("d_micro").desc, col("v"))
    bucketed.join(Keyed.side(offsets, keys), keys :+ "b")
      .withColumn("cum_a", col("off_a") + sum(col("ca")).over(wLoc))
      .withColumn("cum_b", col("off_b") + sum(col("cb")).over(wLoc))
      .withColumn("d_micro",
        expr("""CASE WHEN n_a = 0 OR n_b = 0 THEN 0
                ELSE abs(cum_a * 1000000 DIV n_a - cum_b * 1000000 DIV n_b)
                END"""))
      .withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1)
      .select(ks ++ Seq(col("v").as("at_value"), col("n_a"), col("n_b"),
        col("cum_a"), col("cum_b"), col("d_micro")): _*)
  }

  /** Population Stability Index between two groups' distributions of an
    * integer value — the banded drift score model-risk practice
    * thresholds at 0.1 (watch) / 0.25 (act), complementing [[ksTwoSample]]
    * (max CDF gap: where did it move) with a mass-weighted total (how
    * much moved, symmetric KL): equal-width value buckets from the pooled
    * min/max, per-bucket proportions a_b (group A) and e_b (group B),
    *   PSI = Σ_b (a_b − e_b) · ln(a_b / e_b)
    * over buckets observed on BOTH sides — a one-sided bucket has an
    * infinite term, so it is excluded from the sum (the standard
    * epsilon-free treatment) and surfaced: its row stays (term9 NULL)
    * and n_skipped counts them. A group with no rows at all makes every
    * bucket one-sided and its own shares NULL (psi6 0).
    *
    * Determinism contract: each bucket term is a double computed with
    * IDENTICAL expression text in both engines, rounded to 9 decimals,
    * then summed as DECIMAL(24,9) — associative, so engine partial-agg
    * order can't move the result — and psi6 is the round-6 double of
    * that exact sum (the se6/z6 discipline; LN agreement across engines
    * is the q86 perplexity precedent).
    *
    * Scale shape: rows reduce to the distinct-value count table in ONE
    * map-side-combinable groupBy (the [[ksTwoSample]] shuffle volume —
    * shared so one streaming store feeds both monitors), then to ≤
    * `buckets` rows (bucket ids from a broadcast 1-row min/max frame);
    * everything after is bucket-table math. Counts ride `n·10⁶` in Long —
    * fine to ~9·10¹² rows (the bucketDrift bound). Output (one row per
    * bucket observed on either side): bucket, lo, n_a, n_b,
    * share_a_micro, share_b_micro, term9, psi6, n_skipped — the scalars
    * ride every row (q155 convention).
    */
  def psi(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String, buckets: Int = 16): DataFrame =
    psiBy(df, Nil, valueCol, groupCol, groupA, groupB, buckets)

  /** [[psi]] over a PRE-AGGREGATED (v, ca, cb) distinct-value count
    * table — the SAME mergeable store [[ksTwoSampleFromCounts]] reads, so
    * one streaming value-count store feeds both drift monitors (counts
    * for the same value combine; NULL values excluded; bucket edges are
    * recomputed from the merged min/max at emit time). */
  def psiFromCounts(counts: DataFrame, buckets: Int = 16): DataFrame =
    psiByCounts(mergedValueCounts(counts), Nil, buckets)

  /** [[psi]] per key group — the drift slice dashboard sibling of
    * [[ksTwoSampleBy]] (q206): WHICH slice's distribution moved, in
    * mass-weighted terms? Per-key bucket edges (each slice buckets its
    * OWN min/max — a global grid would alias slices with different value
    * ranges into shared edge buckets), per-key totals and scalars, every
    * aggregate and join keyed — zero SinglePartition, no window. Same
    * determinism and skip contracts as [[psi]]. Output (one row per
    * (key, bucket) observed on either side): keys…, bucket, lo, n_a,
    * n_b, share_a_micro, share_b_micro, term9, psi6, n_skipped — the
    * per-key scalars ride every row of their key. `keys = Nil` is
    * [[psi]]: no rows on empty input.
    */
  def psiBy(df: DataFrame, keys: Seq[String], valueCol: String,
      groupCol: String, groupA: String, groupB: String,
      buckets: Int = 16): DataFrame = {
    val nn = Keyed.guard(keys, Set("v", "ca", "cb", "bucket", "lo", "n_a",
      "n_b", "share_a_micro", "share_b_micro", "term9", "psi6", "n_skipped",
      "__ia", "__mn", "__mx", "__ta", "__tb"))
    psiByCounts(valueCounts(df, keys, valueCol, groupCol, groupA, groupB, nn),
      keys, buckets)
  }

  /** PSI over a (keys…, v, ca, cb) table with one row per (keys, v). */
  private def psiByCounts(g0: DataFrame, keys: Seq[String],
      buckets: Int): DataFrame = {
    require(buckets >= 2 && buckets <= 1024,
      s"buckets must be in [2, 1024], got $buckets")
    val ks = keys.map(col)
    val stats = g0.groupBy(ks: _*)
      .agg(min(col("v")).as("__mn"), max(col("v")).as("__mx"))
    val g = g0.join(Keyed.side(stats, keys), keys)
      .withColumn("bucket",
        expr(s"(v - __mn) DIV ((__mx - __mn) DIV $buckets + 1)"))
      .groupBy(ks :+ col("bucket"): _*)
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val tot = g.groupBy(ks: _*)
      .agg(coalesce(sum(col("n_a")), lit(0L)).as("__ta"),
        coalesce(sum(col("n_b")), lit(0L)).as("__tb"))
    val terms = g.join(Keyed.side(tot, keys), keys)
      .join(Keyed.side(stats, keys), keys)
      .select(ks ++ Seq(col("bucket"),
        expr(s"__mn + bucket * ((__mx - __mn) DIV $buckets + 1)").as("lo"),
        col("n_a"), col("n_b"),
        // a side with no rows has NULL shares, as DuckDB's `//` by zero
        expr("n_a * 1000000 DIV NULLIF(__ta, 0)").as("share_a_micro"),
        expr("n_b * 1000000 DIV NULLIF(__tb, 0)").as("share_b_micro"),
        expr("""CASE WHEN n_a > 0 AND n_b > 0 THEN
                  ROUND((CAST(n_a AS DOUBLE) / __ta - CAST(n_b AS DOUBLE) / __tb)
                    * LN(CAST(n_a AS DOUBLE) * __tb / (CAST(n_b AS DOUBLE) * __ta)), 9)
                END""").as("term9")): _*)
    val sc = terms.groupBy(ks: _*).agg(
      round(coalesce(sum(col("term9").cast(DecimalType(24, 9))),
        lit(0).cast(DecimalType(24, 9))).cast("double"), 6).as("psi6"),
      coalesce(sum(when((col("n_a") === 0L) =!= (col("n_b") === 0L), 1L)
        .otherwise(0L)), lit(0L)).as("n_skipped"))
    terms.join(Keyed.side(sc, keys), keys) // buckets × 1 per key
      .select(ks ++ Seq(col("bucket"), col("lo"), col("n_a"), col("n_b"),
        col("share_a_micro"), col("share_b_micro"), col("term9"),
        col("psi6"), col("n_skipped")): _*)
  }

  /** Jensen–Shannon divergence between two groups' distributions of an
    * integer value (Lin 1991) — the BOUNDED drift dial rounding out the
    * family: PSI's symmetric-KL terms blow up on one-sided buckets (the
    * operator excludes-and-counts them, q212's `n_skipped`), while every
    * JS term is finite BY CONSTRUCTION — a one-sided bucket contributes
    * exactly share·ln2 — and the total lives in [0, ln 2], so thresholds
    * transfer across datasets. Same equal-width buckets from the pooled
    * min/max as [[psi]]:
    *   JS = ½·Σ_b [ a_b·ln(2a_b/(a_b+e_b)) + e_b·ln(2e_b/(a_b+e_b)) ]
    * (shares a_b/e_b; 0·ln(…) terms are 0 — no epsilon, no exclusions).
    *
    * Determinism contract: each bucket term is a round-9 double with
    * IDENTICAL expression text in both engines summed as DECIMAL(24,9)
    * (the [[psi]] discipline); js6 is the round-6 double of the exact
    * sum. Scale shape: identical to [[psi]] — and [[jsDivergenceFromCounts]]
    * reads the SAME (v, ca, cb) mergeable store as KS/PSI/W1, making it
    * the store's FOURTH monitor-ready reader. Output (one row per bucket
    * observed on either side): bucket, lo, n_a, n_b, share_a_micro,
    * share_b_micro, term9, js6 — the scalar rides every row (q155
    * convention).
    */
  def jsDivergence(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String, buckets: Int = 16): DataFrame =
    jsDivergenceFromCounts(
      valueCounts(df, Nil, valueCol, groupCol, groupA, groupB, lit(true)), buckets)

  /** [[jsDivergence]] over the PRE-AGGREGATED (v, ca, cb) distinct-value
    * count store shared with [[ksTwoSampleFromCounts]] /
    * [[psiFromCounts]] / [[wasserstein1FromCounts]]. */
  def jsDivergenceFromCounts(counts: DataFrame, buckets: Int = 16): DataFrame = {
    require(buckets >= 2 && buckets <= 1024,
      s"buckets must be in [2, 1024], got $buckets")
    val base = mergedValueCounts(counts)
    val stats = base.agg(min(col("v")).as("__mn"), max(col("v")).as("__mx"))
    val g = base.crossJoin(broadcast(stats))
      .withColumn("bucket",
        expr(s"(v - __mn) DIV ((__mx - __mn) DIV $buckets + 1)"))
      .groupBy(col("bucket"))
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val tot = g.agg(coalesce(sum(col("n_a")), lit(0L)).as("__ta"),
      coalesce(sum(col("n_b")), lit(0L)).as("__tb"))
    val terms = g.crossJoin(broadcast(tot)).crossJoin(broadcast(stats))
      // empty-SIDE guard (ADVICE r18): a side with zero total has no
      // distribution to compare — emit ZERO rows (the
      // ksTwoSampleFromCounts empty-store convention) instead of
      // integer-DIV-by-zero shares. Distinct from the one-sided-BUCKET
      // case the scaladoc's "no exclusions" refers to (finite share·ln2
      // terms), which needs both TOTALS positive to be well-defined.
      .where(col("__ta") > 0 && col("__tb") > 0)
      .select(col("bucket"),
        expr(s"__mn + bucket * ((__mx - __mn) DIV $buckets + 1)").as("lo"),
        col("n_a"), col("n_b"),
        expr("n_a * 1000000 DIV __ta").as("share_a_micro"),
        expr("n_b * 1000000 DIV __tb").as("share_b_micro"),
        // 0·ln(…) terms vanish exactly; a one-sided bucket is share·ln2
        expr("""ROUND(0.5e0 * (
                  CASE WHEN n_a = 0 THEN 0.0e0 ELSE
                    (CAST(n_a AS DOUBLE) / __ta)
                    * LN(2.0e0 * (CAST(n_a AS DOUBLE) / __ta)
                         / (CAST(n_a AS DOUBLE) / __ta
                            + CAST(n_b AS DOUBLE) / __tb)) END
                  + CASE WHEN n_b = 0 THEN 0.0e0 ELSE
                    (CAST(n_b AS DOUBLE) / __tb)
                    * LN(2.0e0 * (CAST(n_b AS DOUBLE) / __tb)
                         / (CAST(n_a AS DOUBLE) / __ta
                            + CAST(n_b AS DOUBLE) / __tb)) END), 9)""")
          .as("term9"))
    val sc = terms.agg(
      round(coalesce(sum(col("term9").cast(DecimalType(24, 9))),
        lit(0).cast(DecimalType(24, 9))).cast("double"), 6).as("js6"))
    terms.crossJoin(broadcast(sc)) // buckets × 1
  }

  /** Wasserstein-1 (earth-mover) distance between two groups'
    * distributions of an integer value — the third drift dial alongside
    * [[ksTwoSample]] (max CDF gap: WHERE it moved) and [[psi]] (mass-
    * weighted symmetric KL: how much mass moved): W1 is the AREA between
    * the two CDFs, i.e. how FAR the mass moved, in the value's own
    * units — the dial that distinguishes "5% of documents got 10 chars
    * longer" from "5% got 10k chars longer", which KS scores
    * identically.
    *
    * Exact-integer contract: over the sorted distinct values v with
    * cumulative counts cumA/cumB and totals ta/tb,
    *   W1 = Σ_v |cumA·tb − cumB·ta| · Δv / (ta·tb),   Δv = next(v) − v,
    * every term an exact DECIMAL(38,0) product (exact while
    * ta·tb·range·10⁶ < 10³⁸ — corpus-safe to ~10¹⁵ rows/side at 10⁶
    * value ranges); w1_micro = (10⁶·Σ) DIV (ta·tb), micro-units OF THE
    * VALUE SCALE. An empty side reports 0 (the [[ksTwoSample]]
    * convention). Output (one row): n_a, n_b, n_values, w1_micro.
    */
  def wasserstein1(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame =
    wasserstein1By(df, Nil, valueCol, groupCol, groupA, groupB)

  /** [[wasserstein1]] over a PRE-AGGREGATED (v, ca, cb) distinct-value
    * count table — the THIRD reader of the SAME mergeable store
    * [[ksTwoSampleFromCounts]] and [[psiFromCounts]] share, so one
    * streaming value-count store now feeds all three drift monitors.
    *
    * Scale shape: the [[ksTwoSampleFromCounts]] two-phase cumulative
    * (equal-width buckets from a min/max pass, per-bucket parallel
    * windows, only the ≤1025-row bucket-total table crossing
    * SinglePartition) plus one extra per-bucket LEAD for Δv — the
    * bucket-BOUNDARY successor comes from the next bucket's min v,
    * carried on the same bucket-total table, so no global sort and no
    * extra exchange anywhere.
    */
  def wasserstein1FromCounts(counts: DataFrame): DataFrame =
    w1ByCounts(mergedValueCounts(counts), Nil)

  /** [[wasserstein1]] per key group — the how-FAR drift slice dashboard
    * completing the keyed drift matrix ([[ksTwoSampleBy]] q206 = where,
    * [[psiBy]] q214 = how much): WHICH slice's distribution moved, and
    * by how many value units? Per-key two-phase machinery throughout —
    * each key buckets its OWN min/max (the [[psiBy]] aliasing argument),
    * offset/local/lead windows all partitioned by (keys)/(keys, bucket),
    * the bucket-boundary successor rides the per-key bucket table, rank
    * tables re-attach by keyed equi-joins — zero SinglePartition, no
    * global sort. Same exactness and empty-side contracts as the global
    * form. Output (one row per key): keys…, n_a, n_b, n_values,
    * w1_micro. `keys = Nil` is [[wasserstein1]]: no rows on empty input.
    */
  def wasserstein1By(df: DataFrame, keys: Seq[String], valueCol: String,
      groupCol: String, groupA: String, groupB: String): DataFrame = {
    val nn = Keyed.guard(keys, Set("v", "ca", "cb", "b", "ba", "bb", "off_a",
      "off_b", "cum_a", "cum_b", "n_a", "n_b", "n_values", "w1_micro", "__ia",
      "__mn", "__mx", "__bmn", "__nxt", "__nv", "__term", "__area"))
    w1ByCounts(valueCounts(df, keys, valueCol, groupCol, groupA, groupB, nn), keys)
  }

  /** W1 over a (keys…, v, ca, cb) table with one row per (keys, v). */
  private def w1ByCounts(g: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ks = keys.map(col)
    val stats = g.groupBy(ks: _*)
      .agg(min(col("v")).as("__mn"), max(col("v")).as("__mx"))
    val bucketed = g.join(Keyed.side(stats, keys), keys)
      .withColumn("b", expr("(v - __mn) DIV ((__mx - __mn) DIV 1024 + 1)"))
      .drop("__mn", "__mx")
    val wOff = Window.partitionBy(ks: _*).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNxt = Window.partitionBy(ks: _*).orderBy(col("b"))
    val offsets = bucketed.groupBy(ks :+ col("b"): _*)
      .agg(sum(col("ca")).as("ba"), sum(col("cb")).as("bb"),
        min(col("v")).as("__bmn"))
      .withColumn("off_a", coalesce(sum(col("ba")).over(wOff), lit(0L)))
      .withColumn("off_b", coalesce(sum(col("bb")).over(wOff), lit(0L)))
      .withColumn("__nxt", lead(col("__bmn"), 1).over(wNxt))
      .select(ks ++ Seq(col("b"), col("off_a"), col("off_b"), col("__nxt")): _*)
    val wLoc = Window.partitionBy(ks :+ col("b"): _*).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.partitionBy(ks :+ col("b"): _*).orderBy(col("v"))
    val cum = bucketed.join(Keyed.side(offsets, keys), keys :+ "b")
      .withColumn("cum_a", col("off_a") + sum(col("ca")).over(wLoc))
      .withColumn("cum_b", col("off_b") + sum(col("cb")).over(wLoc))
      // Δv: in-bucket successor, else the next bucket's min (each key's
      // max value gets NULL → Δ = 0 via the coalesce below)
      .withColumn("__nv", coalesce(lead(col("v"), 1).over(wLead), col("__nxt")))
    val tot = g.groupBy(ks: _*)
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        count(lit(1)).as("n_values"))
    cum.join(Keyed.side(tot, keys), keys)
      .withColumn("__term",
        expr("""ABS(CAST(cum_a AS DECIMAL(38,0)) * n_b
                - CAST(cum_b AS DECIMAL(38,0)) * n_a)
                * (COALESCE(__nv, v) - v)"""))
      .groupBy(ks: _*)
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("n_values")).as("n_values"),
        coalesce(sum(col("__term")), lit(0).cast(DecimalType(38, 0)))
          .as("__area"))
      .select(ks ++ Seq(col("n_a"), col("n_b"), col("n_values"),
        expr("""CASE WHEN n_a = 0 OR n_b = 0 THEN 0
                ELSE CAST((CAST(1000000 AS DECIMAL(38,0)) * __area)
                  DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT) END""")
          .as("w1_micro")): _*)
      // empty store → zero rows (the ksTwoSampleFromCounts convention),
      // not a row of nulls
      .where(col("n_values").isNotNull)
  }

  /** Drift ATTRIBUTION over the Wasserstein-1 decomposition — the
    * "which value ranges moved" layer the drift dials were missing:
    * KS/PSI/W1/JS say THAT a distribution moved (and how much / how
    * far), but an actionable alarm needs the top movers. W1's area
    * integral decomposes exactly over disjoint value ranges, so each of
    * `buckets` equal-width ranges gets its EXACT share of the total
    * area: contrib_micro = (10⁶ · Σ_{v ∈ bucket} |cumA·tb − cumB·ta|·Δv)
    * DIV total_area — exact integers end-to-end (the per-value terms are
    * the same DECIMAL(38,0) products [[wasserstein1FromCounts]] sums;
    * this operator just rolls them up per range instead of discarding
    * the decomposition). A planted shift confined to one bucket
    * attributes 10⁶ (100%) to exactly that bucket.
    *
    * Scale shape: identical to [[wasserstein1FromCounts]] — two-phase
    * cumulative over 1024 machinery buckets (only the bucket-total
    * table crosses SinglePartition), one extra keyed groupBy onto the
    * ≤`buckets` attribution ranges, totals attach as broadcast 1-row
    * frames. Empty side → zero rows (the W1/KS convention). Output (one
    * row per attribution bucket observed on either side): bucket, lo
    * (range lower bound in value units), n_a, n_b, contrib_micro, and
    * the w1_micro scalar riding every row (q155 convention).
    */
  def w1Attribution(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String, buckets: Int = 16): DataFrame =
    w1AttributionFromCounts(
      valueCounts(df, Nil, valueCol, groupCol, groupA, groupB, lit(true)), buckets)

  /** [[w1Attribution]] over the PRE-AGGREGATED (v, ca, cb) distinct-value
    * count store — the FIFTH reader of the store KS/PSI/W1/JS share, so
    * a streaming monitor's alarm can be attributed from the same state
    * it fired on. */
  def w1AttributionFromCounts(counts: DataFrame, buckets: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2 && buckets <= 1024,
      s"buckets must be in [2, 1024], got $buckets")
    val g = mergedValueCounts(counts)
    val stats = g.agg(min(col("v")).as("__mn"), max(col("v")).as("__mx"))
    val bucketed = g.crossJoin(broadcast(stats))
      .withColumn("b", expr("(v - __mn) DIV ((__mx - __mn) DIV 1024 + 1)"))
      // the ATTRIBUTION range this value's area term rolls up into
      .withColumn("bucket",
        expr(s"(v - __mn) DIV ((__mx - __mn) DIV $buckets + 1)"))
      .withColumn("lo",
        expr(s"__mn + bucket * ((__mx - __mn) DIV $buckets + 1)"))
      .drop("__mn", "__mx")
    val wOff = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNxt = Window.orderBy(col("b"))
    val offsets = bucketed.groupBy(col("b"))
      .agg(sum(col("ca")).as("ba"), sum(col("cb")).as("bb"),
        min(col("v")).as("__bmn"))
      .withColumn("off_a", coalesce(sum(col("ba")).over(wOff), lit(0L)))
      .withColumn("off_b", coalesce(sum(col("bb")).over(wOff), lit(0L)))
      .withColumn("__nxt", lead(col("__bmn"), 1).over(wNxt))
      .select(col("b"), col("off_a"), col("off_b"), col("__nxt"))
    val wLoc = Window.partitionBy(col("b")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.partitionBy(col("b")).orderBy(col("v"))
    val cum = bucketed.join(broadcast(offsets), "b")
      .withColumn("cum_a", col("off_a") + sum(col("ca")).over(wLoc))
      .withColumn("cum_b", col("off_b") + sum(col("cb")).over(wLoc))
      .withColumn("__nv", coalesce(lead(col("v"), 1).over(wLead), col("__nxt")))
    val tot = g.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val perBucket = cum.crossJoin(broadcast(tot))
      .withColumn("__term",
        expr("""ABS(CAST(cum_a AS DECIMAL(38,0)) * n_b
                - CAST(cum_b AS DECIMAL(38,0)) * n_a)
                * (COALESCE(__nv, v) - v)"""))
      .groupBy(col("bucket"), col("lo"))
      .agg(coalesce(sum(col("ca")), lit(0L)).as("n_a_bucket"),
        coalesce(sum(col("cb")), lit(0L)).as("n_b_bucket"),
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        coalesce(sum(col("__term")), lit(0).cast(DecimalType(38, 0)))
          .as("__area"))
    val totArea = perBucket.agg(
      coalesce(sum(col("__area")), lit(0).cast(DecimalType(38, 0)))
        .as("__ta_area"))
    perBucket.crossJoin(broadcast(totArea))
      // empty side → zero rows (the wasserstein1FromCounts convention)
      .where(col("n_a") > 0 && col("n_b") > 0)
      .select(col("bucket"), col("lo"),
        col("n_a_bucket").as("n_a"), col("n_b_bucket").as("n_b"),
        expr("""CASE WHEN __ta_area = 0 THEN 0
                ELSE CAST((CAST(1000000 AS DECIMAL(38,0)) * __area)
                  DIV __ta_area AS BIGINT) END""").as("contrib_micro"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * __ta_area)
                  DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)""")
          .as("w1_micro"))
  }

  /** Mutual information (in nats) + normalized MI between two categorical
    * columns — the dependence STRENGTH dial complementing [[chiSquare]]'s
    * significance test: χ² asks "is there ANY association at this n", MI
    * says "how many nats does knowing A give about B" (the
    * feature-leakage / redundancy triage a curation team runs over
    * metadata columns; χ² saturates at corpus n, MI doesn't).
    *   MI = Σ_{cells, o>0} (o/n)·ln(o·n/(r·c)),
    *   H(X) = −Σ (cnt/n)·ln(cnt/n),
    *   NMI = MI / √(H(A)·H(B))   (Strehl & Ghosh 2002; 0 when either
    * entropy is 0). Zero-observed cells contribute 0 (x·ln x → 0), so NO
    * cell grid materializes — shuffle volume is the observed distinct-
    * cell table, never the |A|×|B| grid [[chiSquare]] needs.
    * Determinism: per-cell/per-value ln terms round-9, summed as
    * DECIMAL(24,9) (associative), round-6 outputs; NMI computed from the
    * ROUNDED sums with identical expression text in both engines.
    * Complete-case on both columns. Output (one row): n, n_a, n_b, mi6,
    * h_a6, h_b6, nmi6.
    */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame =
    mutualInfoBy(df, Nil, aCol, bCol)

  /** [[mutualInfo]] per key group — the metadata-leakage triage SLICED
    * (the dial dashboards actually consume: MI of two metadata columns
    * *within* each slice — e.g. does source still leak length info once
    * language is held fixed?). Same determinism contract as the global
    * form (per-cell/per-value round-9 ln terms summed as DECIMAL(24,9),
    * round-6 outputs, NMI from the rounded sums); per-key observed-cell
    * tables only (no |A|×|B| grid), per-key marginals via keyed groupBys
    * re-joined on the keys — every aggregate and join keyed, zero
    * SinglePartition, no window. Complete-case on keys and both columns.
    * Output (one row per key): keys…, n, n_a, n_b, mi6, h_a6, h_b6, nmi6.
    * `keys = Nil` is [[mutualInfo]]: one all-zero row on empty input.
    */
  def mutualInfoBy(df: DataFrame, keys: Seq[String], aCol: String,
      bCol: String): DataFrame = {
    val nn = Keyed.guard(keys, Set("a", "b", "o", "r", "c", "n", "n_a", "n_b",
      "mi6", "h_a6", "h_b6", "nmi6", "__t"))
    val ks = keys.map(col)
    val obs = df.select(ks :+ col(aCol).cast("string").as("a") :+
        col(bCol).cast("string").as("b"): _*)
      .where(col("a").isNotNull && col("b").isNotNull && nn)
      .groupBy(ks :+ col("a") :+ col("b"): _*).agg(count(lit(1)).as("o"))
    val ra = obs.groupBy(ks :+ col("a"): _*).agg(sum(col("o")).as("r"))
    val cb = obs.groupBy(ks :+ col("b"): _*).agg(sum(col("o")).as("c"))
    val tot = obs.groupBy(ks: _*).agg(
      coalesce(sum(col("o")), lit(0L)).as("n"),
      count_distinct(col("a")).as("n_a"), count_distinct(col("b")).as("n_b"))
    val totN = Keyed.side(tot.select(ks :+ col("n"): _*), keys)
    def decSum9(c: Column): Column =
      round(coalesce(sum(c.cast(DecimalType(24, 9))),
        lit(0).cast(DecimalType(24, 9))).cast("double"), 6)
    val mi = obs.join(ra, keys :+ "a").join(cb, keys :+ "b")
      .join(totN, keys)
      .select(ks :+ expr("""ROUND(CAST(o AS DOUBLE) / n *
        LN(CAST(o AS DOUBLE) * n / (CAST(r AS DOUBLE) * c)), 9)""").as("__t"): _*)
      .groupBy(ks: _*).agg(decSum9(col("__t")).as("mi6"))
    def entropy(cnts: DataFrame, cn: String, out: String): DataFrame =
      Keyed.side(cnts.join(totN, keys)
        .select(ks :+ expr(s"""ROUND(-(CAST($cn AS DOUBLE) / n) *
          LN(CAST($cn AS DOUBLE) / n), 9)""").as("__t"): _*)
        .groupBy(ks: _*).agg(decSum9(col("__t")).as(out)), keys)
    tot.join(Keyed.side(mi, keys), keys)
      .join(entropy(ra, "r", "h_a6"), keys)
      .join(entropy(cb, "c", "h_b6"), keys)
      .withColumn("nmi6",
        expr("""CASE WHEN h_a6 <= 0.0 OR h_b6 <= 0.0 THEN 0.0
                ELSE ROUND(mi6 / SQRT(h_a6 * h_b6), 6) END"""))
      .select(ks ++ Seq(col("n"), col("n_a"), col("n_b"), col("mi6"),
        col("h_a6"), col("h_b6"), col("nmi6")): _*)
  }
}
