package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{ProjectExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col

import graft.pipeline.Recipes
import graft.sources.Nc3

/** Automated plan-hygiene sweep over every registered query: the scale
  * anti-patterns the VERDICT audits by hand, enforced in CI. A query that
  * silently regresses to a cartesian product or an unintended
  * BroadcastNestedLoopJoin fails here before it ever reaches a cluster.
  */
class PlanAuditSpec extends SparkSpec {

  /** Deliberate, audited tiny-broadcast BNLJs (bounded build sides that do
    * NOT grow with the data): q18 literal grid generator, q38/q51 fixed
    * query/centroid sets. Everything else must plan hash/broadcast-hash
    * equi-joins only.
    * (q43/q44 left this list when circSmooth became a map-side array
    * cascade — the 11-row offset crossJoin no longer exists; q13 left it
    * when detrend's scene mean moved into a window over the per-sample
    * table.)
    */
  private val bnljAllowed = Set(
    "q18_gmf_grid", "q38_ann_topk", "q51_ann_ivf",
    // q104: SQ8 scoring broadcasts the 10-row query set against the
    // dequantized corpus — same audited few-queries BNLJ shape as q38
    // (Similarity.sq8TopK)
    "q104_sq8_ann",
    // q58: nearest-centroid assignment crossJoins a broadcast centroid
    // table BOUNDED at numCents rows (Similarity.semanticDedup)
    "q58_semantic_dedup",
    // q63: PQ encode crossJoins a broadcast codebook BOUNDED at
    // m·codebookSize rows; ADC scoring joins a broadcast per-query LUT
    // BOUNDED at the query count (Similarity.pqTopK)
    "q63_pq_ann",
    // (q89 left this list when the adaptive small-graph PageRank path made
    // its sf0.001 plan a LocalTableScan; the distributed recurrence's
    // bounded crossJoins are exercised by the 2M-edge ScaleBench gate)
    // q76: IVFADC scores each probed query-residual against the broadcast
    // PQ codebook — a crossJoin BOUNDED at m·codebookSize rows, same
    // audited shape as q63 (Similarity.ivfadcTopK)
    "q76_ivfadc_ann",
    // q138: the rerank tier runs the same q76 ADC pipeline (same bounded
    // codebook crossJoins) before its broadcast-shortlist exact pass
    "q138_ivfadc_rerank",
    // q176/q177: Kll.quantilesFromSketch joins the broadcast quantile
    // table (BOUNDED at |qs| ≤ 7 rows) against the exploded sketch items
    // (O(k·log n) per key) on a rank-band predicate — non-equi by nature,
    // both sides sketch-sized, never data-sized
    "q176_kll_quantiles", "q177_kll_rollup", "q183_kll_weighted",
    // q178: the exact-recount threshold crossJoins the broadcast 1-ROW
    // total-count frame (Sketches.exactHeavyHitters — same audited shape
    // as the concentration/drift totals)
    "q178_exact_heavy_hitters",
    // q187: the dataset card assembles THREE broadcast 1-ROW aggregate
    // frames (plain totals × distinct counts × dup count) — bounded at
    // one row each by construction
    "q187_dataset_card",
    // q140: the candidate scan scores the corpus against the broadcast
    // 3-query set — the audited q38 few-queries BNLJ shape
    // (Similarity.cosineTopK); the greedy rounds run in one kernel call per
    // query over the kCand-bounded candidates
    "q140_mmr_diversify",
    // q66: the per-stratum rate table crossJoins a broadcast grand-total
    // BOUNDED at 1 row (TextOps.mixtureEpochs)
    "q66_mixture_epochs",
    // q67: the 8192-row feature table crossJoins a broadcast totals row
    // BOUNDED at 1 row (TextOps.dsirScores)
    "q67_dsir_score",
    // q103: the profile's plain-aggregate row crossJoins its distinct-
    // count row — BOTH sides are single rows (operators.Profile.numeric
    // splits the passes so plain aggs don't ride the countDistinct Expand)
    "q103_data_profile",
    // q132: the salience divisor crossJoins a broadcast corpus-count row
    // BOUNDED at 1 row (Fuzzy.q132TfidfSalience — the nbTrain/priors shape)
    "q132_tfidf_salience",
    // q133: the semantic side scores the corpus against a broadcast query
    // set BOUNDED at 3 vectors (Similarity.cosineTopK — the audited q38
    // few-queries shape; the fusion join itself is k-bounded)
    "q133_rrf_fusion",
    // q87: the dense NB feature grid crossJoins a broadcast class list
    // BOUNDED at the label cardinality; priors crossJoin a 1-row total
    // (LmOps.nbTrain)
    "q87_nb_classify",
    // q88: per-term scoring crossJoins a broadcast (N, avgdl) corpus
    // stats row BOUNDED at 1 row (LmOps.bm25TopK)
    "q88_bm25",
    // q111: KN scoring crossJoins the broadcast (T, V) model-scalar row
    // BOUNDED at 1 row (LmOps.knScoreAgainst)
    "q111_kn_perplexity",
    // q112/q164/q165: the link-graph fanout crossJoins the LITERAL 3-row
    // k-range — the same bounded generator q89 uses (Web.linkGraph; the
    // GNN sampling queries build their undirected adjacency from it)
    "q112_triangles", "q164_neighbor_sample", "q165_negative_edges",
    // q118: composes q111's KN scoring, inheriting its 1-row (T, V)
    // crossJoin (LmOps.knScoreAgainst)
    "q118_ccnet_buckets",
    // q125: the source-pair generator crossJoins the distinct-source list
    // with itself — BOUNDED at |sources|² rows (~dozens)
    "q125_hll_setops",
    // q159: the V²-bounded pair-count table crossJoins a broadcast
    // doc-count row BOUNDED at 1 row (TextOps.collocations)
    "q159_collocations",
    // q160: hard-negative scoring scans the corpus against the broadcast
    // 10-query set with the label-mismatch predicate — the audited q38
    // few-queries BNLJ shape (Similarity.hardNegatives)
    "q160_hard_negatives",
    // q166: bucket shares and the TV summary crossJoin broadcast totals —
    // all build sides BOUNDED at 1 row (Profile.bucketDrift)
    "q166_bucket_drift",
    // (q170 left this list when inclusionOrphans became a single
    // tagged-union membership aggregate — the orphan-count crossJoin no
    // longer exists)
    // q171: the decay weights crossJoin the broadcast reference-day row
    // BOUNDED at 1 row (Sketches.halfLifeScore)
    "q171_half_life_trend",
    // q161: the pick-rank filter crossJoins the broadcast min-class-size
    // row BOUNDED at 1 row (TextOps.classBalance)
    "q161_class_balance",
    // q154/q155/q156: 1-row × 1-row (kappa's totals × pe-numerator) or
    // |strata|-row × 1-row (count/quota tables × grand total) crossJoins —
    // all build sides BOUNDED at one row (LmOps.agreementKappa,
    // Profile.concentration, TextOps.largestRemainderQuota — the q66 shape)
    "q154_kappa", "q155_mix_report", "q156_quota_alloc",
    // q196/q197: the anchor probe crossJoins the broadcast 1-ROW
    // vec_id-0 exemplar (queries.Text.anchorScored); q196 adds the 1-row
    // min/max bucket-stats crossJoin (LmOps.binaryAuc), q197 the 1-row
    // Brier/ECE scalar frame onto the ≤bins-row bin table
    // (LmOps.calibrationReport)
    "q196_binary_auc", "q197_calibration",
    // q200: four dim-truncated copies of q196's anchor probe — same 1-row
    // broadcast anchor and bucket-stats crossJoins per width
    "q200_truncation_sweep",
    // q205/q207: q196's anchor/stats 1-row crossJoins, once per placement
    // map (LmOps.delongPlacements; q207 runs two maps, one per scorer)
    "q205_auc_delong", "q207_auc_compare",
    // q210: the same anchor-exemplar + 1-row min/max/totals stats
    // crossJoins as q196 (LmOps.binaryApFromCounts)
    "q210_avg_precision",
    // q236: the ≤buckets-row JS term table crossJoins the broadcast
    // 1-row min/max, totals and scalar frames (Profile.jsDivergence —
    // the q212 psi shape, fourth reader of the same store)
    "q236_js_drift",
    // q212: the ≤buckets-row term table crossJoins the broadcast 1-row
    // min/max, totals and psi-scalar frames (Profile.psi — the
    // q199/q155 drift-totals shape)
    "q212_psi_drift",
    // q215: the distinct-cell table crossJoins the broadcast 1-row
    // totals frame, and the 1-row output assembles three broadcast 1-row
    // scalar frames (Profile.mutualInfo — the q187 dataset-card shape)
    "q215_mutual_info",
    // q218: the τ-b dense grid crossJoins the two bounded distinct-value
    // tables (|X| × |Y| by the coarse-score contract — the q201 χ² grid
    // shape), and the 1-row output assembles the two broadcast 1-row
    // tie-pair scalar frames (Profile.kendallTauB)
    "q218_kendall_tau",
    // q219: the global AP-CI's point row crossJoins the broadcast 1-ROW
    // bootstrap-CI frame — the only BNLJ left after the point estimate
    // was fused into the keyed resample pass (LmOps.binaryApCi — the
    // q205 global-interval shape; the KEYED form q220 plans zero BNLJ
    // and zero SinglePartition)
    "q219_ap_ci",
    // (q204 left this list when its output became literal-built from the
    // collected bin table — the single-scan ADVICE-r15 rework: the scan
    // with the anchor-probe crossJoin now runs once, inside the collect,
    // and the RETURNED plan is a LocalTableScan)
    // q198: the 1×1 crossJoin of the disagreement row with the value-
    // totals square row (LmOps.krippendorffAlpha — the kappa shape)
    "q198_krippendorff",
    // q203: each rank map crossJoins its broadcast 1-row min/max
    // bucket-stats frame (Profile.spearman — the binaryAuc stats shape)
    "q203_spearman",
    // q201: the χ² cell grid crossJoins the two bounded distinct-value
    // tables (|sources| × |langs|) plus the broadcast 1-row totals frame
    // (Profile.chiSquare)
    "q201_chi_square",
    // q199: the distinct-value CDF table crossJoins the broadcast 1-ROW
    // (n_a, n_b) totals frame and the 1-row min/max bucket-stats frame
    // (Profile.ksTwoSample — the drift-totals shape)
    "q199_ks_drift",
    // q233: the ×B expansion and the B-row resample table each crossJoin
    // a broadcast 1-ROW totals/threshold/observed frame
    // (Profile.permTestRate — the q219 md5-coin shape)
    "q233_perm_test",
    // q238: the same three broadcast 1-ROW frames as q233 — the mean
    // twin rides the identical md5-coin machinery (Profile.permTestMean)
    "q238_perm_test_mean",
    // q229: the day sequence crossJoins ONE broadcast 1-ROW control-limit
    // frame (mean daily count → target/allowance/threshold)
    "q229_cusum_daily",
    // q228: the distinct-value CDF table crossJoins the broadcast 1-ROW
    // min/max stats and totals frames (Profile.wasserstein1 — the q199
    // ksTwoSample shape, third reader of the same store)
    "q228_w1_drift",
    // q237: the same W1 cumulative machinery plus the bounded 16-bucket
    // rollup — 1-row stats/totals/total-area broadcast frames
    // (Profile.w1Attribution, fifth reader of the same store)
    "q237_drift_attribution",
    // q227: the BH layer crossJoins three broadcast 1-ROW frames — the
    // pooled totals, the distinct-p min/max bucket stats, and the step-up
    // threshold (Profile.bhFdr — the ksTwoSample drift-totals shape)
    "q227_rate_fdr",
    // q189: the coverage lookup joins the broadcast pct list (3 rows)
    // against the cumulative FREQUENCY-HISTOGRAM table (distinct count
    // values — Zipf-small, never vocabulary-sized) on a range-straddle
    // predicate, plus the 1-row total crossJoin (TextOps.vocabCoverage)
    "q189_vocab_coverage")

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  /** Runs `f` over a byte-identical copy of the tables in a new directory,
    * deleted afterwards. An in-memory scan of an already-materialized cache
    * reports AQE's final partitioning (one coalesced partition reads as
    * SinglePartition), which drops the exchange above it; plans over a fresh
    * copy read no cache that an earlier test or suite can have materialized,
    * so exchange counts over it cannot pass on a warmed cache. */
  private def withFreshTables[T](f: String => T): T = {
    import java.nio.file.{Files, Path}
    val src = java.nio.file.Paths.get(sfDir)
    val copy = Files.createTempDirectory("planaudit-fresh")
    def walk(root: Path): Seq[Path] = {
      val s = Files.walk(root)
      try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
    }
    walk(src).foreach { p =>
      val to = copy.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    try f(copy.toString) finally walk(copy).reverse.foreach(Files.delete)
  }

  /** `name`'s executed plan over fresh tables ([[withFreshTables]]). */
  private def coldPlan(name: String): SparkPlan =
    withFreshTables(d => SparkEntry.queries(name)(spark, d).queryExecution.executedPlan)

  test("no registered query plans a CartesianProduct") {
    SparkEntry.queries.keys.foreach { name =>
      assert(!planOf(name).contains("CartesianProduct"),
        s"$name plans a CartesianProduct — unbounded pairwise work at scale")
    }
  }

  test("BroadcastNestedLoopJoin appears only where a bounded broadcast is deliberate") {
    SparkEntry.queries.keys.filterNot(bnljAllowed).foreach { name =>
      assert(!planOf(name).contains("BroadcastNestedLoopJoin"),
        s"$name plans an unaudited BroadcastNestedLoopJoin — if the build side is " +
          "bounded and deliberate, add it to bnljAllowed with a justification")
    }
    // the whitelist must not rot: entries that stopped planning BNLJ get removed
    bnljAllowed.foreach { name =>
      assert(planOf(name).contains("BroadcastNestedLoopJoin"),
        s"$name no longer plans a BNLJ — drop it from bnljAllowed")
    }
  }

  test("circ-smooth tail is exchange-free after the histogram pivot (q43/q44)") {
    // circSmooth pivots bins to a dense 72-array in ONE groupBy whose keys
    // match the histogram window's partitioning, then the dilation cascade
    // and peak's window run map-side: q43 and q44 must plan the SAME
    // exchanges (peak adds none), and neither may shuffle per dilation
    // (the old join formulation planned 3 extra exchanges)
    def exchanges(name: String): Int = "Exchange".r.findAllIn(planOf(name)).length
    val e43 = exchanges("q43_circ_smooth")
    val e44 = exchanges("q44_peak")
    assert(e44 == e43, s"peak added exchanges: q43=$e43 q44=$e44")
    assert(e43 <= 3, s"q43 plans $e43 exchanges — the dilation cascade is shuffling again")
  }

  test("inversion queries never join or shuffle the LUT") {
    // the inversion kernel is a broadcast-LUT mapPartitions argmin — a
    // 930k-row LUT equi-join would shuffle the whole scene per model
    // (SURVEY §2.6). The only legitimate exchanges are the fixture's
    // (okey, lnum) dedup and the CPU-parallelism round-robin repartition.
    for (name <- Seq("q15_invert_crosspol", "q16_invert_dualpol")) {
      val plan = planOf(name)
      assert(!plan.contains("Join"), s"$name plans a join — the LUT must ride a broadcast variable")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(hashEx <= 1, s"$name plans $hashEx hash exchanges (only the pixel dedup is allowed)")
    }
  }

  /** A 16 × 24 owi scene carrying every plane the scene recipes read. */
  private lazy val owiScene: String = {
    import Nc3._
    val (nL, nS) = (16, 24)
    val dir = java.nio.file.Files.createTempDirectory("planaudit-owi").toString
    def plane(f: (Int, Int) => Double): Array[Double] =
      Array.tabulate(nL * nS)(i => f(i / nS, i % nS))
    val planes = Seq(
      "sigma0" -> plane((l, s) => 0.02 + 0.001 * math.sin(l * 0.7 + s * 0.3)),
      "sigma0_cr" -> plane((_, _) => 0.0005),
      "nesz" -> plane((_, s) => 0.0001 + 1e-6 * s),
      "incidence" -> plane((_, s) => 20.0 + 0.5 * s),
      "ancillary_u" -> plane((_, _) => 6.0),
      "ancillary_v" -> plane((_, _) => 4.0),
      "ground_heading" -> plane((_, _) => -10.0))
    Nc3.write(s"$dir/owi.nc", Seq(Dim("owiAzSize", nL), Dim("owiRaSize", nS)), Nil,
      planes.map { case (n, d) => Var(n, Seq(0, 1), Nil, NcDouble, d) })
    s"$dir/owi.nc"
  }

  /** The plan AQE starts from, exchanges in place. */
  private def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case p => p
  }

  test("detrend builds its side table in one pass: q13 and Recipes.detrend over owi") {
    // one groupBy(sample), one single-partition pass over the per-sample
    // table, one broadcast of the ratios
    val cases = Seq(
      "q13_detrend" -> SparkEntry.queries("q13_detrend")(spark, sfDir),
      "Recipes.detrend(owi)" -> Recipes.detrend(spark.read.format("owi").load(owiScene)))
    for ((name, df) <- cases) {
      val plan = physical(df)
      val exchanges = plan.collect { case e: Exchange => e }
      assert(exchanges.size <= 3, s"$name plans ${exchanges.size} exchanges:\n$plan")
      assert(!plan.toString.contains("BroadcastNestedLoopJoin"), s"$name plans a BNLJ:\n$plan")
      val single = exchanges.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      assert(single.size == 1, s"$name plans ${single.size} SinglePartition exchanges:\n$plan")
      // what crosses into the single partition is the per-sample table
      // (the final groupBy(sample) aggregate), never raster rows
      def belowProjects(p: SparkPlan): SparkPlan = p match {
        case pr: ProjectExec => belowProjects(pr.child)
        case other => other
      }
      belowProjects(single.head.child) match {
        case a: BaseAggregateExec =>
          assert(a.groupingExpressions.map(_.name) == Seq("sample"),
            s"$name: the SinglePartition exchange sits over ${a.groupingExpressions}")
        case other =>
          fail(s"$name: the SinglePartition exchange sits over ${other.nodeName}, " +
            s"not the per-sample aggregate:\n$plan")
      }
    }
  }

  test("streaks over a detrended owi scene: one grouping per window, no window pivot") {
    // the streak tail groups each window's pixels once and runs the kernel.
    // The long-format chain it replaced planned 11 exchanges here, keyed
    // Window nodes (a median per downscale, the row_number peak) and 2
    // aggregates of 72 per-bin sums. The only Window nodes left are
    // detrend's unkeyed ones over its per-sample table, once per downscale
    // branch.
    val det = Recipes.detrend(spark.read.format("owi").load(owiScene))
    val plan = physical(Recipes.streaks(
      det.select(col("line"), col("sample"), col("sigma0_detrend").as("v")), Seq(1, 2)))
    def windows(p: SparkPlan): Seq[WindowExec] = p.collect { case w: WindowExec => w }
    assert(windows(plan).forall(_.partitionSpec.isEmpty) &&
      windows(plan).size == 2 * windows(physical(det)).size,
      s"the streak tail plans a Window node:\n$plan")
    val wide = plan.collect { case a: BaseAggregateExec if a.aggregateExpressions.size >= 72 => a }
    assert(wide.isEmpty, s"an aggregate carries ${wide.map(_.aggregateExpressions.size)} expressions")
    val exchanges = plan.collect { case e: Exchange => e }.size
    assert(exchanges <= 11, s"detrend + streaks plans $exchanges exchanges:\n$plan")
  }

  test("windRetrieval spreads a single-split parquet input, never an owi scene") {
    // the owi source plans at least defaultParallelism pixel spans, which
    // Plans.ensureMinPartitions counts like a parquet scan's splits
    val owi = spark.read.format("owi").load(owiScene)
    assert(!physical(Recipes.windRetrieval(owi)).toString.contains("RoundRobinPartitioning"),
      "windRetrieval re-spreads an owi scene that already plans enough spans")
    val pq = java.nio.file.Files.createTempDirectory("planaudit-pq").resolve("scene").toString
    owi.coalesce(1).write.parquet(pq)
    val single = spark.read.parquet(pq)
    assert(single.rdd.getNumPartitions == 1)
    assert(physical(Recipes.windRetrieval(single)).toString.contains("RoundRobinPartitioning"),
      "windRetrieval no longer spreads a single-split parquet scene")
  }

  test("as-of joins shuffle ONCE on the key, in every direction") {
    // the operator's whole claim vs the join+filter+rank formulation:
    // union both sides, one hash exchange on the key, carry values with
    // a window. `nearest` adds a second Window operator but must REUSE
    // the same exchange (both frames sort within the same partitioning) —
    // a second data exchange would mean the union trick regressed
    for ((q, wantWindows) <- Seq(("q22_asof_join", 1),
        ("q191_asof_forward", 1), ("q192_asof_nearest", 2))) {
      val plan = planOf(q)
      val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
      val singleEx = "Exchange SinglePartition".r.findAllIn(plan).length
      val windows = "Window ".r.findAllIn(plan).length
      assert(hashEx == 1, s"$q plans $hashEx hash exchanges — want exactly 1 (the key)")
      assert(singleEx == 0, s"$q plans a SinglePartition exchange")
      assert(windows == wantWindows, s"$q plans $windows Window ops, want $wantWindows")
    }
  }

  test("q179 ranks without serializing the data onto one task") {
    // sortedNeighborhood's claim: global ranks from PER-BUCKET windows
    // (Exchange hashpartitioning(__bkt)) plus ONE SinglePartition exchange
    // over the tiny bucket-count table. A regression to a bare global
    // row_number window would plan a second SinglePartition exchange over
    // the DATA — the 10M-row one-task cliff the operator exists to avoid.
    val plan = coldPlan("q179_sorted_neighborhood").toString
    // every row_number window must partition by the range bucket — a bare
    // global row_number (empty partition spec) is the regression
    val rnSpecs = "row_number\\(\\) windowspecdefinition\\(([^,]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(rnSpecs.nonEmpty && rnSpecs.forall(_.contains("__bkt")),
      s"q179 ranks outside the bucket windows: $rnSpecs")
    // SinglePartition exchanges exist only under the bucket-COUNT offset
    // window. The offsets table is persisted (broadcast-size guard), so
    // its cached plan PRINTS once per scan site — count distinct plan_ids,
    // not textual occurrences, to get the physical exchange count.
    val single = """Exchange SinglePartition[^\[]*\[plan_id=(\d+)\]""".r
      .findAllMatchIn(plan).map(_.group(1)).toSet.size
    assert(single <= 2, s"q179 plans $single SinglePartition exchanges — " +
      "something beyond the two offset-table subtrees is centralizing")
  }

  test("q178 counts only semi-joined candidates, never the full vocabulary") {
    // exactHeavyHitters' pass 2 must gate the groupBy behind the broadcast
    // candidate semi-join; without it the count shuffles every distinct
    // token — exactly the vocabulary-wide exchange the operator replaces.
    val plan = planOf("q178_exact_heavy_hitters")
    assert(plan.contains("LeftSemi"),
      "q178 lost the candidate semi-join before the exact recount")
  }

  test("top-k rank<=k windows plan WindowGroupLimit (map-side group limit)") {
    // Spark 4 plans row_number()<=k as WindowGroupLimit: each partition
    // keeps only k rows per group BEFORE the exchange — the property that
    // makes window top-k beat a max-struct groupBy 5x at 1M groups. A
    // regression to a plain Window would silently ship every candidate row.
    for (name <- Seq("q38_ann_topk", "q39_ann_lsh", "q51_ann_ivf", "q63_pq_ann",
        "q145_chat_assembly")) {
      assert(planOf(name).contains("WindowGroupLimit"),
        s"$name lost its WindowGroupLimit — rank filter no longer pushes into the window")
    }
  }

  test("multiscale with >1 window size persists the shared Scharr grid") {
    import org.apache.spark.sql.functions._
    val grid = spark.range(64 * 64).select(
      (col("id") / 64).cast("int").as("line"), (col("id") % 64).cast("int").as("sample"),
      sin(col("id").cast("double")).as("v"))
    val df = graft.operators.Gradients.multiscale(grid, downscales = Seq(1), windowSizes = Seq(16, 32))
    val plan = df.queryExecution.executedPlan.toString
    val hits = "InMemoryTableScan".r.findAllIn(plan).length
    assert(hits >= 2, s"shared-Scharr persist missing: $hits InMemoryTableScan in plan")
    // NOT clearCache(): that would also unpersist the q35/q36 shared
    // candidate cache other tests (and the session) rely on; the 64x64
    // grid cached here is a few KB and dies with the session
  }

  test("q35/q36 read the SAME persisted candidate-pair computation") {
    val p35 = planOf("q35_minhash_pairs")
    val p36 = planOf("q36_jaccard")
    assert(p35.contains("InMemoryTableScan") && p36.contains("InMemoryTableScan"),
      "shared MinHash candidates are not persisted — q36 would recompute signatures")
  }

  test("map-side decision queries plan ZERO exchanges (q57/q60/q62/q75/q77/q78/q83/q84/q85/q91/q92)") {
    // quality filter, stratified sampling, raw-gray decode+pool, and the
    // PNG encode→decode round trip are pure per-row work: any Exchange
    // appearing here means a scale regression (a shuffle of the full
    // corpus — or worse, of image payloads — for a map-side decision)
    // q193/q194: the PCA projection and k-means assignment fold their
    // fitted constants into literal column math — the returned plan must
    // be a bare projection over the scan (the fit's own bounded jobs run
    // eagerly at construction and never appear in the query plan)
    for (name <- Seq("q57_quality_filter", "q60_stratified_sample", "q62_decode_pool",
        "q75_png_roundtrip", "q77_jpeg_dc", "q78_flac_roundtrip", "q83_pii_scrub",
        "q84_jpeg_color", "q91_url_canon", "q92_normalize",
        "q193_pca_project", "q194_kmeans_assign")) {
      val plan = planOf(name)
      assert(!plan.contains("Exchange"),
        s"$name plans an Exchange — map-side decision queries must not shuffle")
    }
    // q85: the regex cascade is the heaviest per-row kernel of the set, so
    // it spreads a single-split input across cores (Plans.ensureMinPartitions
    // — the guide's one-huge-unsplittable-file remedy, a no-op whenever the
    // scan already carries enough splits). The ONLY exchange allowed is
    // that round-robin; a hash/range exchange would still be a regression.
    locally {
      val plan = planOf("q85_html_extract")
      val other = "Exchange (?!RoundRobinPartitioning)".r.findFirstIn(plan)
      assert(other.isEmpty,
        s"q85_html_extract plans a non-round-robin Exchange — map-side decisions must not shuffle by key")
    }
  }

  test("q195 budget-select keeps the SinglePartition pass on the bucket table only") {
    // the two-phase claim: running costs come from PER-BUCKET windows; the
    // only SinglePartition exchange sits under the ≤257-row bucket-total
    // offset window. A regression to a bare global running-sum window
    // would put the corpus itself through one task.
    val plan = coldPlan("q195_budget_select").toString
    val single = """Exchange SinglePartition[^\[]*\[plan_id=(\d+)\]""".r
      .findAllMatchIn(plan).map(_.group(1)).toSet.size
    assert(single <= 1, s"q195 plans $single SinglePartition exchanges — " +
      "the corpus running sum must stay per-bucket")
    val sumSpecs = "sum\\(__cost[^)]*\\) windowspecdefinition\\(([^,]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(sumSpecs.nonEmpty && sumSpecs.forall(_.contains("__bkt")),
      s"q195 runs the corpus running sum outside the bucket windows: $sumSpecs")
  }

  test("q196 AUC and q199 KS rank over per-bucket windows, SinglePartition only on bucket totals") {
    // the rank-free two-phase claim: the distinct-score / distinct-value
    // cumulative sums run in PER-BUCKET windows (partitioned by the
    // equal-width bucket b); only the ≤1025-row bucket-total offset
    // table crosses SinglePartition. A regression to a bare
    // global window would funnel the whole distinct table (up to 2·10⁶
    // rows for micro-rounded metrics) through one task. Legitimate
    // SinglePartition crossings: the 1-row min/max bucket-stats aggregate
    // (planned twice across the DAG branches, deduped by ReuseExchange at
    // runtime), the ≤1025-row bucket-total offset window, and the final
    // one-row aggregate/totals — map-side partials, ~one row per task
    // crosses each. None of them carries the distinct table itself, which
    // the window-spec assert below pins to per-bucket partitions.
    // q210 allows one more: its 1-row stats agg is consumed through TWO
    // narrow selects (mn/mx before the windows, tp/tot after — the
    // row-narrowing that bought 36→20 s on the 10M gate), each planning
    // its own 1-row SinglePartition aggregate
    Seq(("q196_binary_auc", "ng", 4), ("q199_ks_drift", "ca", 4),
        ("q210_avg_precision", "p", 5)).foreach {
      case (q, cumCol, maxSingle) =>
        val plan = coldPlan(q).toString
        val single = """Exchange SinglePartition[^\[]*\[plan_id=(\d+)\]""".r
          .findAllMatchIn(plan).map(_.group(1)).toSet.size
        assert(single <= maxSingle, s"$q plans $single SinglePartition exchanges — " +
          "the distinct-table cumulative sum must stay per-bucket")
        val sumSpecs = s"sum\\($cumCol[^)]*\\) windowspecdefinition\\(([^,]*)".r
          .findAllMatchIn(plan).map(_.group(1)).toList
        assert(sumSpecs.nonEmpty && sumSpecs.forall(_.contains("b")),
          s"$q runs the cumulative sum outside the bucket windows: $sumSpecs")
    }
  }

  test("q208/q209 keyed eval family plans stay keyed end-to-end") {
    // q209: BOTH scorers' placement maps and the final covariance
    // aggregate are per-source — zero SinglePartition anywhere (the
    // binaryAucCompareBy contract; slices only add parallelism)
    val p209 = coldPlan("q209_auc_compare_by_source").toString
    assert(!p209.contains("Exchange SinglePartition"),
      "q209 plans a SinglePartition exchange — the keyed paired DeLong regressed")
    // q213: per-key AP — same zero-SinglePartition contract as q202/q209
    assert(!coldPlan("q213_ap_by_source").toString.contains("Exchange SinglePartition"),
      "q213 plans a SinglePartition exchange — the keyed AP regressed")
    // q216: per-key AUC±CI — keyed placements, no row join, no
    // SinglePartition (the binaryAucSeBy contract)
    assert(!coldPlan("q216_group_auc_ci").toString.contains("Exchange SinglePartition"),
      "q216 plans a SinglePartition exchange — the keyed AUC-CI regressed")
    // q211: per-key bins + per-key Brier/ECE — same zero-SinglePartition
    // contract (calibrationReportBy has no window at all)
    val p211 = coldPlan("q211_calibration_by_source").toString
    assert(!p211.contains("Exchange SinglePartition"),
      "q211 plans a SinglePartition exchange — the keyed calibration regressed")
    assert(!p211.contains("Window"), "q211 must not plan a window")
    // q208: the returned frame is literal-built from the bounded collected
    // (source, bin) table — consuming it re-runs no corpus work (the
    // single-scan isotonic contract)
    val p208 = coldPlan("q208_isotonic_by_source").toString
    assert(p208.contains("LocalTableScan") && !p208.contains("Exchange"),
      "q208 output is not literal-built from the collected bin table")
    // q217: per-key MI — keyed observed-cell tables and marginals only,
    // zero SinglePartition, no BNLJ (the q215 crossJoins become keyed
    // equi-joins in mutualInfoBy), no window
    val p217 = coldPlan("q217_mutual_info_by_lang").toString
    assert(!p217.contains("Exchange SinglePartition"),
      "q217 plans a SinglePartition exchange — the keyed MI regressed")
    assert(!p217.contains("BroadcastNestedLoopJoin"),
      "q217 plans a BNLJ — the keyed MI's marginal joins must stay equi")
    assert(!p217.contains("Window"), "q217 must not plan a window")
    // q220: per-key AP±CI — the bootstrap resample id rides as one more
    // key through the same machinery; zero SinglePartition, zero BNLJ
    // (the global form q219 keeps the audited 1-row crossJoins instead)
    val p220 = coldPlan("q220_ap_ci_by_source").toString
    assert(!p220.contains("Exchange SinglePartition"),
      "q220 plans a SinglePartition exchange — the keyed AP-CI regressed")
    assert(!p220.contains("BroadcastNestedLoopJoin"),
      "q220 plans a BNLJ — the keyed AP-CI's joins must stay equi")
    // q221: per-key τ-b — per-key dense grids via keyed equi-joins (the
    // global form q218 crossJoins instead), keyed windows, zero
    // SinglePartition, zero BNLJ
    val p221 = coldPlan("q221_kendall_by_lang").toString
    assert(!p221.contains("Exchange SinglePartition"),
      "q221 plans a SinglePartition exchange — the keyed tau-b regressed")
    assert(!p221.contains("BroadcastNestedLoopJoin"),
      "q221 plans a BNLJ — the keyed tau-b's grid joins must stay equi")
    // q222: per-key χ² — per-key cell grids via keyed equi-joins (the
    // global form q201 crossJoins instead), no window, zero
    // SinglePartition, zero BNLJ
    val p222 = coldPlan("q222_chi_square_by_lang").toString
    assert(!p222.contains("Exchange SinglePartition"),
      "q222 plans a SinglePartition exchange — the keyed chi-square regressed")
    assert(!p222.contains("BroadcastNestedLoopJoin"),
      "q222 plans a BNLJ — the keyed chi-square's grid joins must stay equi")
    assert(!p222.contains("Window"), "q222 must not plan a window")
    // q223: per-key Spearman — keyed rank maps (windows partitioned by
    // (key) / (key, bucket)), keyed rank re-attach joins, zero
    // SinglePartition, zero BNLJ (the global form q203 crossJoins its
    // 1-row stats instead)
    val p223 = coldPlan("q223_spearman_by_lang").toString
    assert(!p223.contains("Exchange SinglePartition"),
      "q223 plans a SinglePartition exchange — the keyed spearman regressed")
    assert(!p223.contains("BroadcastNestedLoopJoin"),
      "q223 plans a BNLJ — the keyed spearman's joins must stay equi")
    // q230: per-key trend test — one keyed groupBy over the (key × band)
    // table then a keyed aggregate: no window, no join of any kind, zero
    // SinglePartition
    val p230 = coldPlan("q230_trend_by_source").toString
    assert(!p230.contains("Exchange SinglePartition"),
      "q230 plans a SinglePartition exchange — the keyed trend regressed")
    assert(!p230.contains("BroadcastNestedLoopJoin") &&
      !p230.contains("SortMergeJoin") && !p230.contains("BroadcastHashJoin"),
      "q230 plans a join — the keyed trend is two chained aggregates only")
    assert(!p230.contains("Window"), "q230 must not plan a window")
    // q235: per-key randomization test — per-key coin thresholds attach
    // by keyed equi-joins (the global form q233 crossJoins 1-row frames
    // instead), keyed aggregates only, zero SinglePartition, zero BNLJ
    val p235 = coldPlan("q235_perm_test_by_lang").toString
    assert(!p235.contains("Exchange SinglePartition"),
      "q235 plans a SinglePartition exchange — the keyed perm test regressed")
    assert(!p235.contains("BroadcastNestedLoopJoin"),
      "q235 plans a BNLJ — the per-key threshold joins must stay equi")
    assert(!p235.contains("Window"), "q235 must not plan a window")
    // q239: the mean twin of q235 — same keyed md5-coin machinery, per-
    // key thresholds by equi-join, zero SinglePartition, zero BNLJ
    val p239 = coldPlan("q239_perm_test_mean_by_lang").toString
    assert(!p239.contains("Exchange SinglePartition"),
      "q239 plans a SinglePartition exchange — the keyed mean perm test regressed")
    assert(!p239.contains("BroadcastNestedLoopJoin"),
      "q239 plans a BNLJ — the per-key threshold joins must stay equi")
    assert(!p239.contains("Window"), "q239 must not plan a window")
    // q232: per-key W1 — per-key min/max buckets, keyed offset/local/lead
    // windows, keyed totals join, zero SinglePartition, zero BNLJ (the
    // global form q228 crossJoins its 1-row frames instead)
    val p232 = coldPlan("q232_w1_by_lang").toString
    assert(!p232.contains("Exchange SinglePartition"),
      "q232 plans a SinglePartition exchange — the keyed W1 regressed")
    assert(!p232.contains("BroadcastNestedLoopJoin"),
      "q232 plans a BNLJ — the keyed W1's joins must stay equi")
    // q231: per-key bucketed AP-CI — the scoreBuckets min/max attaches by
    // a KEYED equi-join (per-key grids, not a global 1-row crossJoin), so
    // the keyed-machinery guarantees hold with the knob on too
    val p231 = coldPlan("q231_ap_ci_bucketed").toString
    assert(!p231.contains("Exchange SinglePartition"),
      "q231 plans a SinglePartition exchange — the bucketed keyed AP-CI regressed")
    assert(!p231.contains("BroadcastNestedLoopJoin"),
      "q231 plans a BNLJ — the per-key min/max must attach by equi-join")
  }

  test("q61 packing never plans a single-partition global window") {
    // the two-phase prefix scan exists precisely to avoid
    // Exchange SinglePartition + global Sort; a regression funnels the
    // corpus through one task
    val plan = planOf("q61_pack_sequences")
    assert(!plan.contains("Exchange SinglePartition"),
      "q61 collapsed to a single-partition global window")
    assert(plan.contains("Window"), "q61 lost its per-bucket running-total window")
  }

  test("q149 ROUGE is map-only: zero exchanges") {
    // the clipped n-gram overlap is per-row HOF work; any Exchange means
    // the eval started shuffling the corpus
    assert(!planOf("q149_rouge2").contains("Exchange"),
      "q149 plans an Exchange — ROUGE must stay a single map pass")
  }

  test("q151/q158 share one data exchange on the group key") {
    // madOutliers: the rank window's hash exchange on `nation` must be the
    // ONLY exchange of the data rows — both median groupBys and both
    // join-backs reuse that partitioning (the 35.5→16.1 s fix at 10M).
    // Sides that exchange: the tiny per-key aggregate frames only.
    val p151 = planOf("q151_mad_outliers")
    val dataEx = "Exchange hashpartitioning\\(nation".r.findAllIn(p151).length
    assert(dataEx <= 3, s"q151 plans $dataEx nation exchanges — rank/agg reuse broke")
    assert(!p151.contains("Exchange SinglePartition"),
      "q151 collapsed to a single-partition plan")
    // winsorize inherits groupedQuantiles' histogram-rank shape: no
    // per-key full sort of the data, no single-partition window
    assert(!planOf("q158_winsorize").contains("Exchange SinglePartition"),
      "q158 collapsed to a single-partition plan")
  }

  test("q152 pareto front plans its two windows over one brand exchange") {
    val p = planOf("q152_pareto_front")
    val ex = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(ex <= 2, s"q152 plans $ex hash exchanges — the sweep should need one on (brand[, size])")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q152 regressed to a dominance join")
  }

  test("q150 golden record is one aggregation pass") {
    val p = planOf("q150_golden_record")
    assert(!p.contains("Window"), "q150 must use aggregates, not windows")
    val ex = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(ex <= 1, s"q150 plans $ex exchanges — survivorship is ONE groupBy")
  }

  test("q68 epoch shuffle never plans a single-partition global window") {
    // same contract as q61: the global rank is two-phase (bucket windows +
    // broadcast offsets), never Exchange SinglePartition + global Sort
    val plan = planOf("q68_epoch_shuffle")
    assert(!plan.contains("Exchange SinglePartition"),
      "q68 collapsed to a single-partition global window")
    assert(plan.contains("Window"), "q68 lost its per-bucket rank window")
  }

  test("q64's composition reads shingle hashes from the session cache, not recomputed") {
    // the composed curation decision touches the shingle machinery through
    // q56 (minhash+jaccard) AND q65 (decontamination): both must hit the
    // persisted sharedShingleHashes — a plan that re-derives shingles from
    // the documents scan would pay the dominant cost twice at 100 TB
    // (the cached plans are printed as InMemoryTableScan innerChildren, so
    // a raw substring count of shingle_hashes would see the CACHED calls
    // too — count the cache scans themselves instead)
    val plan = planOf("q64_curation_decision")
    val nCacheScans = "InMemoryTableScan".r.findAllIn(plan).length
    assert(nCacheScans >= 3,
      s"q64 should read the shared shingle/jaccard caches through q56 AND " +
        s"q65 (several scans), found $nCacheScans")
  }

  test("sketch queries keep the scalable shape: partial aggs, broadcast probes") {
    // q95 HLL: both groupBys must plan map-side partial aggregation (the
    // register build is a combinable max; the estimate a combinable sum)
    val hll = planOf("q95_hll_distinct")
    assert(hll.contains("partial_max") || hll.contains("HashAggregate(keys=[source"),
      "q95 register build lost its partial aggregation")
    assert(!hll.contains("SortMergeJoin"), "q95 est/exact join must broadcast")
    // q96 CMS: the probe join reads d cells per probe via a broadcast, and
    // the cell build aggregates the PRE-AGGREGATED vocabulary, never raw tokens
    val cms = planOf("q96_heavy_hitters")
    assert(cms.contains("BroadcastHashJoin"), "q96 probe join must broadcast")
    assert(!cms.contains("SortMergeJoin"), "q96 plans a SortMergeJoin")
    // q97 quantiles: the rank window is per-bucket, never a single global
    // partition over the data
    val qn = planOf("q97_quantiles")
    assert(!qn.contains("Window [row_number() windowspecdefinition(l_extendedprice"),
      "q97 plans an unpartitioned global window")
  }

  test("row-group stats prune a sorted parquet scan to ~one group (min/max pushdown)") {
    // The 100 TB layout story: data laid out sorted by the filter key means
    // a selective predicate reads one row group, not the file. Write 1M
    // sorted rows into many small row groups, point-filter, and assert the
    // SCAN's own output-row metric (pre-Filter) stays under 10% of the data
    // — i.e. parquet-mr actually skipped the non-matching groups.
    val dir = java.nio.file.Files.createTempDirectory("rgprune").toString
    spark.range(1000000L)
      .select(org.apache.spark.sql.functions.col("id"),
        (org.apache.spark.sql.functions.col("id") * 2).as("v"))
      .coalesce(1).sortWithinPartitions("id")
      .write.option("parquet.block.size", (64 * 1024).toString)
      .mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("id") === 999999L)
    // execute THIS queryExecution (count() would plan a separate one whose
    // metrics we can't read back)
    assert(df.collect().length == 1)
    val scans = df.queryExecution.executedPlan.collectLeaves()
    val emitted = scans.map(_.metrics("numOutputRows").value).sum
    assert(emitted > 0 && emitted < 100000L,
      s"scan emitted $emitted rows — row-group stats did not prune")
  }

  test("filters and projections reach the parquet scan (q06 probe)") {
    val plan = planOf("q06_filter_revenue")
    assert(plan.contains("PushedFilters: [IsNotNull"),
      "q06 filter did not push down to the parquet scan")
    // projection pruning: the lineitem scan must read a narrow struct, not
    // all 16 columns
    val readSchemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(_.split(",").length <= 4),
      s"q06 scan reads an unpruned schema: $readSchemas")
  }

  private val mainRoot = java.nio.file.Paths.get("src/main/scala/graft")

  /** Every .scala file under graft/, listed from disk; fails when the tree
    * is missing or empty, so an audit over it cannot pass vacuously. */
  private def mainSources: Vector[java.io.File] = {
    import scala.jdk.CollectionConverters._
    assert(java.nio.file.Files.isDirectory(mainRoot), s"source root $mainRoot not found")
    val walk = java.nio.file.Files.walk(mainRoot)
    val all = try walk.iterator().asScala.toVector
        .filter(_.toString.endsWith(".scala")).map(_.toFile)
      finally walk.close()
    assert(all.nonEmpty, s"no sources under $mainRoot")
    all
  }

  test("only GraftSession builds a session or reads SPARK_GRAFT_CPUS") {
    // one factory, so the verified, audited and measured plans share one
    // config set and one core count
    val builds = """SparkSession\s*\.\s*builder\s*\(""".r
    val factory = mainRoot.resolve("core/GraftSession.scala").toFile
    val sources = mainSources
    assert(sources.contains(factory), s"$factory not found")
    def offends(f: java.io.File): Boolean = {
      val txt = java.nio.file.Files.readString(f.toPath)
      builds.findFirstIn(txt).nonEmpty || txt.contains("\"SPARK_GRAFT_CPUS\"")
    }
    assert(offends(factory), "the factory itself no longer builds the session")
    val offenders = sources.filter(f => f != factory && offends(f)).map(_.getPath)
    assert(offenders.isEmpty,
      s"session built or SPARK_GRAFT_CPUS read outside GraftSession:\n" +
        offenders.mkString("\n"))
  }

  test("every driver collect in library code declares its bound") {
    // r19 verdict: driver-side collects are acceptable at 100 TB only
    // while their row bounds hold — so every `.collect()` in the library
    // surface must state its scale contract where it stands: either a
    // `limit(` in the statement or a `// BOUND:` line within the 8
    // preceding lines. A collect of a frame nobody proved bounded fails
    // here before it OOMs a driver.
    // every package under graft/, listed from disk so a new package is
    // covered; a missing or empty tree fails instead of passing vacuously
    val sources = mainSources.filter(_.getParentFile.toPath != mainRoot)
    assert(sources.nonEmpty, s"no package sources under $mainRoot")
    val offenders = for {
      f <- sources
      lines = java.nio.file.Files.readString(f.toPath).split("\n", -1).toSeq
      (line, i) <- lines.zipWithIndex
      if line.contains(".collect()")
      ctx = lines.slice(math.max(0, i - 8), i + 1).mkString("\n")
      if !ctx.contains("BOUND:") && !ctx.contains("limit(")
    } yield s"${f.getPath}:${i + 1}"
    assert(offenders.isEmpty,
      s"collect() without a declared bound (add `// BOUND: <scale contract>`):\n" +
        offenders.mkString("\n"))
  }

  /** `body`'s value and the number of Spark jobs it ran, counted between two
    * marker jobs: the listener bus is asynchronous, so the count is taken
    * once the closing marker's start has been delivered. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(m: String): Unit = {
      sc.setJobDescription(m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(l)
    try {
      marker("jobsDuring-open")
      val out = body
      marker("jobsDuring-close")
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains("jobsDuring-close") && System.nanoTime() < deadline) Thread.sleep(10)
      val s = seen.toArray.toSeq
      assert(s.contains("jobsDuring-close"), "the closing marker job never reached the listener")
      (out, s.indexOf("jobsDuring-close") - s.indexOf("jobsDuring-open") - 1)
    } finally sc.removeSparkListener(l)
  }

  /** Every node of AQE's initial plan and of the plans cached under its
    * in-memory scans (a persisted intermediate hides its exchanges behind
    * an `InMemoryTableScan`). */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val top = p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case q => q
    }
    top.collect { case n => n } ++
      top.collect { case i: InMemoryTableScanExec => planNodes(i.relation.cachedPlan) }.flatten
  }

  test("global eval/drift forms keep their exchanges, SinglePartition exchanges and BNLJs") {
    // (shuffle exchanges, of them SinglePartition, broadcast exchanges,
    // BNLJs), recorded when each global form still had a body of its own;
    // the global form is now its keyed form called with no keys, whose
    // 1-row side tables are hinted broadcast (Keyed.side). q199 is one
    // below on each count (parent 9, 4, 4, 3): its totals ride the min/max
    // aggregate, as the keyed KS always did, instead of a second 1-row
    // aggregate and crossJoin.
    val pins = Seq(
      "q196_binary_auc" -> (8, 4, 7, 6),
      "q197_calibration" -> (3, 1, 3, 3),
      "q199_ks_drift" -> (8, 3, 3, 2),
      "q201_chi_square" -> (9, 1, 3, 2),
      "q203_spearman" -> (15, 7, 8, 4),
      "q205_auc_delong" -> (9, 4, 7, 6),
      "q207_auc_compare" -> (21, 7, 15, 13),
      "q210_avg_precision" -> (10, 5, 9, 8),
      "q212_psi_drift" -> (17, 9, 9, 9),
      "q215_mutual_info" -> (21, 7, 8, 6),
      "q218_kendall_tau" -> (11, 3, 4, 3),
      "q219_ap_ci" -> (35, 1, 9, 1),
      "q225_trend_test" -> (2, 1, 0, 0),
      "q228_w1_drift" -> (10, 5, 4, 3),
      "q233_perm_test" -> (5, 4, 3, 3),
      "q238_perm_test_mean" -> (5, 4, 3, 3))
    pins.foreach { case (q, want) =>
      val nodes = planNodes(coldPlan(q))
      val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
      val got = (shuffles.size, shuffles.count(_.outputPartitioning == SinglePartition),
        nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
        nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
      assert(got == want, s"$q plans (shuffles, SinglePartition, broadcasts, BNLJs) = $got, pinned $want")
    }
  }

  test("q140 builds without running a Spark job of its own and plans no checkpointed scan") {
    // MMR's greedy rounds run in one kernel call per query; the unrolled
    // rounds they replaced localCheckpoint-ed each round's state, which ran
    // that round's stages while the frame was still being built
    assert(jobsDuring(spark.sparkContext.parallelize(1 to 3).count())._2 == 1,
      "the job count misses a job")
    val (plan, jobs, readJobs) = withFreshTables { d =>
      val readJobs = jobsDuring(graft.core.Tables.load(spark, d, "embeddings"))._2
      val (df, n) = jobsDuring(SparkEntry.queries("q140_mmr_diversify")(spark, d))
      (df.queryExecution.executedPlan, n, readJobs)
    }
    // reading a parquet table infers its schema in a job; q140 runs no other
    assert(jobs == readJobs, s"building q140 ran $jobs Spark jobs, reading its table $readJobs")
    val scans = planNodes(plan).collect { case r: RDDScanExec => r.nodeName }
    assert(scans.isEmpty, s"q140 plans checkpointed scans: $scans")
  }

  test("split-spread queries plan no round-robin over a 32-split parquet copy") {
    // Plans.ensureMinPartitions spreads a split-starved scan; over inputs
    // that already carry enough splits the spread must vanish (the DSv2
    // side is the windRetrieval case above). q219 spreads inside the
    // bootstrap expansion, which sits under a persisted relation
    val dir = java.nio.file.Files.createTempDirectory("planaudit-splits").toString
    val one = java.nio.file.Files.createTempDirectory("planaudit-one").toString
    Seq("orders", "events", "documents").foreach { t =>
      val in = spark.read.parquet(graft.core.Tables.path(sfDir, t))
      in.repartition(32).write.parquet(graft.core.Tables.path(dir, t))
      in.coalesce(1).write.parquet(graft.core.Tables.path(one, t))
      assert(spark.read.parquet(graft.core.Tables.path(dir, t)).rdd.getNumPartitions >= 32)
    }
    def plan(q: String, d: String): String =
      SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString
    Seq("q23_range_join", "q142_interval_join", "q219_ap_ci").foreach { q =>
      assert(!plan(q, dir).contains("RoundRobinPartitioning"),
        s"$q re-spreads an input that already plans 32 splits")
      assert(plan(q, one).contains("RoundRobinPartitioning"),
        s"$q no longer spreads a single-split input")
    }
  }
}
