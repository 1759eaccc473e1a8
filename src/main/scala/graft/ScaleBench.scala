package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.functions.GmfColumns
import graft.models.ModelRegistry
import graft.operators.{Directions, Gradients, Inversion}

/** Engine-side domain targets (BASELINE.md): timings at the reference's
  * full-scene sizes, validating the 100 TB design assumptions (broadcast
  * LUTs, tile+halo shuffles) far beyond the sf0.1 gate — plus QUALITY gates
  * for every approximate operator (planted ground truth → measured recall,
  * not just determinism). Prints one line per target. Usage:
  * runMain graft.ScaleBench [lines samples] [big]  — `big` adds the 150M-px
  * inversion target (the "100×" of the reference notebook scene).
  */
object ScaleBench {
  /** Target sections selectable from the CLI: `runMain graft.ScaleBench
    * [lines samples] [big] [scene|vectors|docs]` — no section arg runs
    * everything (plus the 100×-scene targets with `big`). */
  private val Sections =
    Set("scene", "vectors", "docs", "sketches", "events", "media", "graph",
      "layout", "eval")

  def main(args: Array[String]): Unit = {
    val big = args.contains("big")
    val sections = args.filter(Sections).toSet
    def on(section: String): Boolean = sections.isEmpty || sections(section)
    // the all-sections combined run holds the 1M-vector LSH pass and the
    // scene caches in one heap: the 8g sbt default OOMs intermittently
    // (README). Fail fast with the fix instead of dying 10 minutes in.
    if (sections.isEmpty) {
      val maxGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
      require(maxGb >= 20.0,
        f"combined ScaleBench needs a >=24g heap (have $maxGb%.1fg) — " +
          "rerun with SPARK_DRIVER_MEM=24g, or select a single section " +
          s"(${Sections.mkString("|")})")
    }
    val (nL, nS) = args.filterNot(a => a == "big" || Sections(a)) match {
      case Array(l, s) => (l.toInt, s.toInt)
      case _ => (1700, 2500)
    }
    val spark = GraftSession.getOrCreate(
      master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      appName = "graft-scale")
    import spark.implicits._

    // SPARK_GRAFT_SCALE_ONLY=substr[,substr...] runs only matching targets
    // (dev iteration aid). Skipped targets return null — fine for the
    // current targets (results unused), but a skipped target that a later
    // one depends on (e.g. docPairs) will fail that later target.
    val onlyFilter = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // target counters for the end-of-session summary line (r18 verdict:
    // "ALL N targets" should be artifact-backed, not README-asserted —
    // a target that runs to completion here has passed its inline gate
    // asserts, so targets=N with skipped=0 IS the claim)
    var nTargetsRun = 0
    var nTargetsSkipped = 0
    val sessionT0 = System.nanoTime()
    // `note` is read after the target ran and printed after its seconds
    def timed[A](name: String, note: () => String = () => "")(f: => A): A = {
      if (onlyFilter.exists(fs => !fs.exists(name.contains))) {
        nTargetsSkipped += 1
        println(f"[scale] $name%-42s skipped")
        null.asInstanceOf[A]
      } else {
        val t0 = System.nanoTime()
        val r = f
        nTargetsRun += 1
        println(f"[scale] $name%-42s ${(System.nanoTime() - t0) / 1e9}%8.2f s${note()}")
        // drop CacheLife-scoped temps the target's operators registered —
        // without a release hook they would pin storage for the whole
        // combined session (the registry holds strong frame references)
        graft.core.CacheLife.releaseScoped(spark)
        r
      }
    }

    // copol LUT cells the inversion argmin visited per pixel from here on
    def cellsPerPixel(nPx: Long): () => String = {
      val cells = Inversion.cellsVisited(spark.sparkContext)
      val c0 = cells.value
      () => f"  ${(cells.value - c0).toDouble / nPx}%.0f cells/px"
    }

    if (on("scene")) {
    // 1. high-res copol LUT generation — 501×499×181 ≈ 45M cells (driver)
    timed("lut_gen_highres_copol_45M") {
      ModelRegistry.get("gmf_cmod5n").toLut(highRes = true).values.length
    }

    // 2. low-res + multilinear interp to high-res (the reference default)
    timed("lut_interp_low_to_high_copol") {
      ModelRegistry.get("gmf_cmod5n").toLutInterpolated().values.length
    }

    // synthetic full scene, forward-modeled wind (distributed generation)
    val scene = spark.range(nL.toLong * nS)
      .select(
        (col("id") / nS).cast("int").as("line"),
        (col("id") % nS).cast("int").as("sample"))
      .withColumn("incidence", lit(16.0) + lit(34.0) * col("sample") / lit(nS - 1.0))
      .withColumn("wspd_t", lit(4.0) + (col("line") % 40) * lit(0.7))
      .withColumn("phi_t", (col("sample") % 360) * lit(0.5))

    // 3. dual-pol inversion over the full scene (4.25M px default)
    timed(s"dualpol_inversion_${nL}x$nS", cellsPerPixel(nL.toLong * nS)) {
      val luts = Inversion.buildLuts(spark, Some("gmf_cmod5n"), Some("gmf_s1_v2"), highRes = false)
      val px = scene.select(
        col("line").cast("long").as("okey"), col("sample").cast("long").as("lnum"),
        col("incidence").as("inc"),
        Directions.toDb(GmfColumns.cmod5n(col("incidence"), col("wspd_t"), col("phi_t"))).as("s0co_db"),
        Directions.toDb(GmfColumns.s1V2(col("incidence"), col("wspd_t"))).as("s0cr_db"),
        lit(0.1).as("dsig_cr"),
        (col("wspd_t") * cos(radians(col("phi_t")))).as("anc_re"),
        (col("wspd_t") * sin(radians(col("phi_t")))).as("anc_im"))
      Inversion.invert(px, luts).write.format("noop").mode("overwrite").save()
    }

    // 4. multiscale gradient histogram (2 downscales × 2 window sizes)
    timed(s"gradients_multiscale_${nL}x$nS") {
      val grid = scene.select(col("line"), col("sample"),
        (lit(1.0) + sin(col("line") * 0.7 + col("sample") * 0.35)).as("v"))
      Gradients.multiscale(grid, downscales = Seq(1, 2), windowSizes = Seq(160, 320))
        .write.format("noop").mode("overwrite").save()
    }

    // 5. R5∘R3 local-gradients: compositional (13 exchanges) vs fused (1)
    val grid = scene.select(col("line"), col("sample"),
      (lit(1.0) + sin(col("line") * 0.7 + col("sample") * 0.35)).as("v"))
    timed(s"local_gradients_chained_${nL}x$nS") {
      Gradients.localGradients(grid).write.format("noop").mode("overwrite").save()
    }
    timed(s"local_gradients_fused_${nL}x$nS") {
      Gradients.localGradientsFused(grid).write.format("noop").mode("overwrite").save()
    }

    // 6. rain/artifact filtering parameters — exercises the distributed
    // zoomBilinear (spark.range targets + corner equi-join; no driver grid,
    // no raster broadcast) on the full scene
    timed(s"filtering_params_${nL}x$nS") {
      Gradients.filteringParameters(grid, knownDims = Some(((nL + 1) / 2, (nS + 1) / 2)))
        .write.format("noop").mode("overwrite").save()
    }

    }

    if (on("vectors")) {
    // V0. PCA at 200k × 64-dim with a planted closed form: vectors are
    // a·d1 + b·d2 with d1 = (1,1,0,…)/√2, d2 = (1,−1,0,…)/√2 and
    // (a, b) ∈ {±2}×{±1} by id bits — covariance eigenvalues exactly
    // (4, 1, 0, …), components exactly the planted directions. Gates the
    // distributed upper-triangle Gramian pass (d(d+1)/2 = 2080 cells per
    // vector, map-side-combined to 2080 groups) + the driver Jacobi at a
    // scale where a naive collect-the-corpus eigensolve would not fly.
    timed("pca_200k_x_64d_closed_form") {
      val s2 = math.sqrt(2.0)
      val a = (col("id") % 2 * 4 - 2).cast("double")       // ±2
      val b = (expr("id DIV 2") % 2 * 2 - 1).cast("double") // ±1
      val vecs = spark.range(200000L).select(col("id").as("vec_id"),
        concat(array(((a + b) / s2).cast("float"), ((a - b) / s2).cast("float")),
          transform(sequence(lit(2), lit(63)), _ => lit(0.0f))).as("embedding"))
      val (mean, evals, comps) =
        operators.Similarity.pcaComponents(vecs, 4, "embedding")
      require(mean.forall(m => math.abs(m) < 1e-6), "mean must vanish")
      require(math.abs(evals(0) - 4.0) < 1e-4 && math.abs(evals(1) - 1.0) < 1e-4 &&
        math.abs(evals(2)) < 1e-6,
        s"planted eigenvalues diverged: ${evals.take(3).mkString(",")}")
      require(math.abs(comps(0)(0) - 1 / s2) < 1e-5 &&
        math.abs(comps(0)(1) - 1 / s2) < 1e-5 &&
        math.abs(comps(1)(0) - 1 / s2) < 1e-5 &&
        math.abs(comps(1)(1) + 1 / s2) < 1e-5,
        "planted components diverged")
    }

    // V0b. WIDE embeddings: the same planted 2-factor construction at
    // d = 512 and 200k vectors through the partition-local accumulator
    // (packed 131,328-double triangle per task — nothing per-row), plus
    // the superseded explode formulation timed on a 256-row slice for
    // the quadratic-per-row-cost comparison (131,328 struct cells PER ROW
    // at this width — 5k rows already took 345 s in development; 200k
    // would be ~5.3G cells).
    timed("pca_200k_x_512d_wide") {
      val s2 = math.sqrt(2.0)
      val a = (col("id") % 2 * 4 - 2).cast("double")
      val b = (expr("id DIV 2") % 2 * 2 - 1).cast("double")
      val vecs = spark.range(200000L).select(col("id").as("vec_id"),
        concat(array(((a + b) / s2).cast("float"), ((a - b) / s2).cast("float")),
          transform(sequence(lit(2), lit(511)), _ => lit(0.0f))).as("embedding"))
        .persist()
      vecs.count()
      val t0 = System.nanoTime()
      val (mean, evals, comps) =
        operators.Similarity.pcaComponents(vecs, 4, "embedding")
      val tLocal = (System.nanoTime() - t0) / 1e9
      require(mean.forall(m => math.abs(m) < 1e-6), "mean must vanish")
      require(math.abs(evals(0) - 4.0) < 1e-4 && math.abs(evals(1) - 1.0) < 1e-4 &&
        math.abs(evals(2)) < 1e-6,
        s"planted eigenvalues diverged at d=512: ${evals.take(3).mkString(",")}")
      require(math.abs(comps(0)(0) - 1 / s2) < 1e-5 &&
        math.abs(comps(1)(1) + 1 / s2) < 1e-5, "planted components diverged")
      val slice = vecs.filter(col("vec_id") < 256).persist()
      slice.count()
      val t1 = System.nanoTime()
      operators.Similarity.pcaMomentsExplode(slice, "embedding")
      val tExpl = (System.nanoTime() - t1) / 1e9
      slice.unpersist(); vecs.unpersist()
      println(f"[scale] pca_wide d=512: local 200k rows in $tLocal%.2f s; " +
        f"explode 256 rows in $tExpl%.2f s (781× fewer rows)")
      require(tLocal < tExpl,
        "local full corpus must beat explode on the 781×-smaller slice")
    }

    // synthetic 1M-vector embedding corpus, dim 16, deterministic — murmur3
    // mixed per (id, dim) so vectors are genuinely distinct (a plain linear
    // congruence mod 2000 has period 2000 in id: only 2000 distinct vectors
    // in the corpus, which collapses LSH buckets into duplicate mega-groups
    // and explodes the pair count). Every id with id%10==9 is a PLANTED
    // near-dup of id-1 (amp-0.245 perturbation → pair cosines spread over
    // ~[0.93, 0.99]) so the approximate operators have measurable ground
    // truth, not just timings.
    val nVec = 1000000
    val pid = col("id") - when(col("id") % 10 === 9, 1L).otherwise(0L)
    val baseV = transform(sequence(lit(0), lit(15)),
      i => (pmod(hash(pid, i), lit(2000)) - 1000).cast("double") / 1000.0)
    val noiseV = transform(sequence(lit(0), lit(15)),
      i => (pmod(hash(col("id"), i, lit(7)), lit(2000)) - 1000).cast("double") / 1000.0 * 0.245)
    val emb = spark.range(nVec)
      .select(col("id").as("vec_id"),
        when(col("id") % 10 === 9, zip_with(baseV, noiseV, (x, d) => x + d))
          .otherwise(baseV).cast("array<float>").as("embedding"))

    import operators.Similarity
    def cosOf(a: Column, b: Column): Column =
      round(Similarity.dot(a, b) /
        (sqrt(Similarity.norm2(a)) * sqrt(Similarity.norm2(b))), 6)

    // 7. banded LSH all-pairs top-1 at 1M vectors: autoPlanes gives 18
    // planes per band (262k buckets → ~4 vectors/bucket, bounded pair
    // work) × autoBands(18)=15 bands (flat recall; a single band keeps a
    // cosine-0.95 pair with p≈0.15)
    timed(s"ann_lsh_top1_${nVec / 1000}k_banded") {
      Similarity.rpTopK(emb, k = 1, n = Some(nVec.toLong))
        .write.format("noop").mode("overwrite").save()
    }

    // 7b. RECALL GATE: the planted cosine>=0.95 pairs must be recovered by
    // the banded near-dup pass at >=90% — the quality half of the 100 TB
    // near-dup story (cost stays linear via autoPlanes, recall stays flat
    // via autoBands; a single-band run of the same corpus finds ~20%)
    timed(s"lsh_neardup_recall_${nVec / 1000}k") {
      val va = emb.filter(col("vec_id") % 10 === 8)
        .select(col("vec_id").as("doc_a"), col("embedding").as("v_a"))
      val vb = emb.filter(col("vec_id") % 10 === 9)
        .select((col("vec_id") - 1).as("doc_a"), col("vec_id").as("doc_b"),
          col("embedding").as("v_b"))
      val truth = va.join(vb, "doc_a")
        .select(col("doc_a"), col("doc_b"), cosOf(col("v_a"), col("v_b")).as("cos"))
        .filter(col("cos") >= 0.95).select("doc_a", "doc_b").cache()
      val nTruth = truth.count()
      val found = Similarity.nearDupPairs(emb, threshold = 0.95, n = Some(nVec.toLong))
        .select("doc_a", "doc_b")
      val hit = found.join(truth, Seq("doc_a", "doc_b")).count()
      val recall = hit.toDouble / nTruth
      println(f"[scale] lsh_neardup_recall: $hit/$nTruth = $recall%.4f (gate >= 0.9)")
      truth.unpersist()
      require(recall >= 0.9, f"banded LSH recall $recall%.4f below the 0.9 gate")
    }

    // 7c (big). 10M-VECTOR LSH CEILING — one order beyond the 1M gate:
    // autoPlanes(10M)=22 planes × autoBands(22)=23 bands (the raised
    // 64-band cap doesn't even bind until planes 25 / ~67M vectors).
    // Gates BOTH halves of the scale story: candidate-level recall of the
    // planted cosine≥0.95 pairs ≥ 0.9 (candidate recall == end recall:
    // scoring is exact, truth pairs all clear the threshold), and MEASURED
    // linear candidate volume — per-vector candidates bounded by
    // occupancy × bands, the invariant that keeps banded LSH O(n) at any
    // corpus size. Candidate-level (not score-joined) so the gate measures
    // the LSH itself without a 10⁸-pair dot-product pass.
    // Vectors are 64-dim — the production embedding shape (and the
    // `embeddings` table's). That is a PRECONDITION, not a convenience: 22
    // sign bits only decorrelate when the data spans ≥ ~22 dims. A 16-dim
    // run of this same gate measured 2063 candidates/vec (22× the linear
    // bound, recall 0.977) — low-dim direction spheres have wide angle
    // spread, so E[(1−θ/π)^planes] stays heavy and bucket occupancy skews
    // superlinear no matter the plane count. Sign-LSH's linear-cost model
    // holds for n ≲ occ·2^d; past that knee (e.g. 16-dim corpora beyond
    // ~260k vectors) use the IVF/SemDeDup path instead.
    if (big) timed("lsh_neardup_recall_10000k_banded") {
      val n10 = 10000000L
      val pid10 = col("id") - when(col("id") % 10 === 9, 1L).otherwise(0L)
      val base10 = transform(sequence(lit(0), lit(63)),
        i => (pmod(hash(pid10, i), lit(2000)) - 1000).cast("double") / 1000.0)
      val noise10 = transform(sequence(lit(0), lit(63)),
        i => (pmod(hash(col("id"), i, lit(7)), lit(2000)) - 1000).cast("double") / 1000.0 * 0.245)
      val emb10 = spark.range(n10)
        .select(col("id").as("vec_id"),
          when(col("id") % 10 === 9, zip_with(base10, noise10, (x, d) => x + d))
            .otherwise(base10).cast("array<float>").as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val va = emb10.filter(col("vec_id") % 10 === 8)
        .select(col("vec_id").as("doc_a"), col("embedding").as("v_a"))
      val vb = emb10.filter(col("vec_id") % 10 === 9)
        .select((col("vec_id") - 1).as("doc_a"), col("vec_id").as("doc_b"),
          col("embedding").as("v_b"))
      val truth = va.join(vb, "doc_a")
        .select(col("doc_a"), col("doc_b"), cosOf(col("v_a"), col("v_b")).as("cos"))
        .filter(col("cos") >= 0.95).select("doc_a", "doc_b").cache()
      val nTruth = truth.count()
      val np = Similarity.autoPlanes(n10)
      val nb = Similarity.autoBands(np)
      // candidate stream WITHOUT the distinct: at 10M vectors the dedup
      // shuffle + persist of ~10⁹ pairs transiently eats the whole disk
      // (observed: ENOSPC at 80 GB free). The gate doesn't need the
      // materialized set — count the RAW pair stream (a strictly harsher
      // linearity measure: it bounds the work the dedup itself would do)
      // and take recall through a broadcast semi-join against the ~1M-row
      // truth set, so nothing pair-sized ever shuffles or persists.
      val cand = Similarity.bandedCandidates(emb10, np, nb, "vec_id", "embedding",
        dedup = false)
      // one pass: total raw volume + distinct truth pairs recovered (the
      // countDistinct shuffles only the ~truth-sized hit subset)
      val row = cand
        .join(broadcast(truth.withColumn("__t", lit(1))), Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n"),
          countDistinct(when(col("__t") === 1,
            struct(col("doc_a"), col("doc_b")))).as("hit")).head()
      val nCand = row.getLong(0)
      val perVec = nCand.toDouble / n10
      val hit = row.getLong(1)
      val recall = hit.toDouble / nTruth
      println(f"[scale] lsh_10M: planes=$np bands=$nb rawCand=$nCand " +
        f"(${perVec}%.2f/vec, linear bound ${4.0 * nb}%.0f) recall $hit/$nTruth = $recall%.4f")
      truth.unpersist(); emb10.unpersist()
      // Uniform-occupancy model: occ/2 raw pairs per vector per band =
      // 46/vec here. Real sign-LSH buckets carry a constant-factor Σc²
      // skew (cell measures vary); measured 114/vec at 64-dim — factor
      // ~2.5 over uniform, stable in n, fine. The failure mode this gate
      // exists for is the LOW-DIM blowup (2063/vec at 16-dim — factor 45,
      // and growing with n), so the bound allows 2× the occ·bands model:
      require(perVec <= 2.0 * 4.0 * nb,
        f"candidate volume superlinear: $perVec%.2f per vector > 2*occ*bands = ${8.0 * nb}%.0f")
      require(recall >= 0.9, f"banded LSH recall $recall%.4f below the 0.9 gate at 10M")
    }

    // 7d (big). IVFADC AT 10M — the compressed tier held where the banded
    // tier already did: same 64-dim corpus construct as 7c. Ground truth
    // is the PLANTED near-dups (the 7c philosophy), NOT the exact top-5:
    // at 64-dim this corpus is uniform-random away from the plants, so a
    // query's exact 2nd..5th neighbors sit at noise-level distances
    // (relative contrast → 1 in high dims) and NO compressed index can
    // rank them — a first attempt gating exact-top-5 recall measured
    // 0.02–0.06 at every nprobe, i.e. the gate measured distance
    // concentration, not the index. The scale question that matters for
    // dedup/retrieval is whether a GENUINELY close pair (planted cos
    // ≈0.93–0.99, unambiguously nearest) is retrieved once its list is
    // probed: recall = fraction of 20 planted queries whose partner
    // appears in the IVFADC top-5, nondecreasing in nprobe.
    if (big) timed("ann_ivfadc_planted_recall_10000k") {
      val n10 = 10000000L
      val pid10 = col("id") - when(col("id") % 10 === 9, 1L).otherwise(0L)
      val base10 = transform(sequence(lit(0), lit(63)),
        i => (pmod(hash(pid10, i), lit(2000)) - 1000).cast("double") / 1000.0)
      val noise10 = transform(sequence(lit(0), lit(63)),
        i => (pmod(hash(col("id"), i, lit(7)), lit(2000)) - 1000).cast("double") / 1000.0 * 0.245)
      val emb10 = spark.range(n10)
        .select(col("id").as("vec_id"),
          when(col("id") % 10 === 9, zip_with(base10, noise10, (x, d) => x + d))
            .otherwise(base10).cast("array<float>").as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // 20 planted-pair queries (vec_id%10==8 → partner vec_id+1)
      val queries10 = emb10.filter(col("vec_id") % 10 === 8 && col("vec_id") < 200).cache()
      val nQ = queries10.count()
      val recalls = Seq(1, 2, 4).map { nprobe =>
        // rerank 1000: with 4-bit-per-8-dim residual codes the ADC margin
        // is coarse — a 100-deep shortlist loses the true partner to
        // quantization noise as more probed lists contribute candidates
        // (measured: recall 0.75→0.60 going nprobe 2→4 at rerank=100).
        // Exact-scoring 1000 candidates/query is still ~10⁻⁴ of the corpus.
        val got = Similarity.ivfadcTopK(emb10, queries10, k = 5, numCents = 64,
            nprobe = nprobe, m = 8, codebookSize = 16, lloydIters = 1, rerank = 1000)
        val hit = got.filter(col("neighbor_id") === col("query_id") + 1).count()
        val r = hit.toDouble / nQ
        println(f"[scale] ivfadc_planted_recall@5 nprobe=$nprobe at 10M (64 cents): $r%.4f")
        r
      }
      queries10.unpersist(); emb10.unpersist()
      require(recalls.zip(recalls.tail).forall { case (a, b) => b >= a - 0.05 },
        s"IVFADC planted recall must be (near-)nondecreasing in nprobe at 10M: $recalls")
      require(recalls.last >= 0.6,
        f"IVFADC planted recall ${recalls.last}%.4f below the 0.6 gate at nprobe=4, 10M")
    }

    // 8. IVF-flat: fixed 64-centroid quantizer (bounded broadcast), 10
    // queries probing 2 lists of ~15.6k vectors each
    timed(s"ann_ivf_top5_${nVec / 1000}k_64cents") {
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
          k = 5, numCents = 64, nprobe = 2)
        .write.format("noop").mode("overwrite").save()
    }

    // 8b. IVF RECALL SWEEP: recall@5 vs the exact top-5 as nprobe grows.
    // Candidate lists are supersets as nprobe grows (deterministic
    // assignment), so recall must be nondecreasing — asserted, along with
    // the probe dial actually buying recall (nprobe=8 >= nprobe=1).
    timed(s"ann_ivf_recall_sweep_${nVec / 1000}k") {
      val queries = emb.filter(col("vec_id") < 10).cache()
      val exact = Similarity.cosineTopK(emb, queries, k = 5).select("query_id", "neighbor_id").cache()
      val nExact = exact.count()
      val recalls = Seq(1, 2, 4, 8).map { nprobe =>
        val got = Similarity.ivfTopK(emb, queries, k = 5, numCents = 64, nprobe = nprobe)
          .select("query_id", "neighbor_id")
        val r = got.join(exact, Seq("query_id", "neighbor_id")).count().toDouble / nExact
        println(f"[scale] ivf_recall@5 nprobe=$nprobe: $r%.4f")
        r
      }
      exact.unpersist(); queries.unpersist()
      require(recalls.zip(recalls.tail).forall { case (a, b) => b >= a - 1e-9 },
        s"IVF recall must be nondecreasing in nprobe: $recalls")
      require(recalls.last >= recalls.head,
        s"IVF nprobe dial bought no recall: $recalls")
    }

    // 8c. PQ-ADC at 1M vectors — the fourth ANN tier: 8 subspaces × 16
    // codewords over the 16-dim embeddings (16⁸ ≈ 4B cells: at m=4 the
    // 65k-cell grid left thousands of vectors ADC-TIED per cell and
    // id-tiebreak sank recall to 0.22), 1 Lloyd training pass, ADC top-100
    // shortlist reranked exactly → top-5. The ADC scan reads 8 small ints
    // per vector instead of 16 floats — the compressed-scan memory story.
    // Recall gated against the exact L2 top-5 (PQ's metric; these vectors
    // are not unit-norm, so cosine order differs).
    timed(s"ann_pq_adc_top5_${nVec / 1000}k") {
      val queries = emb.filter(col("vec_id") < 10).cache()
      val qv = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val scoredEx = emb.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (Similarity.norm2(col("embedding")) + Similarity.norm2(col("qv"))
            - lit(2.0) * Similarity.dot(col("embedding"), col("qv"))).as("d2"))
      val wEx = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("d2").asc, col("neighbor_id").asc)
      val exact = scoredEx.withColumn("rn", row_number().over(wEx))
        .filter(col("rn") <= 5).select("query_id", "neighbor_id").cache()
      val nExact = exact.count()
      val got = Similarity.pqTopK(emb, queries, k = 5, m = 8, codebookSize = 16,
          lloydIters = 1, rerank = 100)
        .select("query_id", "neighbor_id")
      val r = got.join(exact, Seq("query_id", "neighbor_id")).count().toDouble / nExact
      println(f"[scale] pq_adc_recall@5 (1 Lloyd pass, rerank 100): $r%.4f (gate >= 0.6)")
      exact.unpersist(); queries.unpersist()
      require(r >= 0.6, f"PQ ADC recall $r%.4f below the 0.6 gate")
    }

    // 8c2. SQ8 scalar-quantized ANN at 1M vectors: the 4×-compressed tier
    // between raw floats and PQ. 8-bit per-dim codes lose ~w/2 per
    // component — on this corpus the cosine top-5 should be nearly
    // indistinguishable from exact; gate recall@5 ≥ 0.9.
    timed(s"ann_sq8_top5_${nVec / 1000}k") {
      val queries = emb.filter(col("vec_id") < 10).cache()
      val exact = Similarity.cosineTopK(emb, queries, k = 5)
        .select("query_id", "neighbor_id").cache()
      val nExact = exact.count()
      val got = Similarity.sq8TopK(emb, queries, k = 5)
        .select("query_id", "neighbor_id")
      val r = got.join(exact, Seq("query_id", "neighbor_id")).count().toDouble / nExact
      println(f"[scale] sq8_recall@5: $r%.4f (gate >= 0.9)")
      exact.unpersist(); queries.unpersist()
      require(r >= 0.9, f"SQ8 recall $r%.4f below the 0.9 gate")
    }

    // 8d. TRUE IVFADC at 1M vectors — the composed production tier (Jégou
    // 2011 §IV): inverted lists × residual PQ codes, exact-reranked. The
    // recall/nprobe curve vs the exact L2 top-5 must be nondecreasing
    // (probed lists are supersets) and the full-dial point must clear the
    // ADC gate — the memory story (8 ints/vector scanned) now ALSO skips
    // (numCents−nprobe)/numCents of the corpus per query.
    timed(s"ann_ivfadc_recall_sweep_${nVec / 1000}k") {
      val queries = emb.filter(col("vec_id") < 10).cache()
      val qv = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val scoredEx = emb.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (Similarity.norm2(col("embedding")) + Similarity.norm2(col("qv"))
            - lit(2.0) * Similarity.dot(col("embedding"), col("qv"))).as("d2"))
      val wEx = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("d2").asc, col("neighbor_id").asc)
      val exact = scoredEx.withColumn("rn", row_number().over(wEx))
        .filter(col("rn") <= 5).select("query_id", "neighbor_id").cache()
      val nExact = exact.count()
      val recalls = Seq(1, 2, 4).map { nprobe =>
        val got = Similarity.ivfadcTopK(emb, queries, k = 5, numCents = 16,
            nprobe = nprobe, m = 8, codebookSize = 16, lloydIters = 1, rerank = 100)
          .select("query_id", "neighbor_id")
        val r = got.join(exact, Seq("query_id", "neighbor_id")).count().toDouble / nExact
        println(f"[scale] ivfadc_recall@5 nprobe=$nprobe (1 Lloyd, rerank 100): $r%.4f")
        r
      }
      exact.unpersist(); queries.unpersist()
      // candidate lists are supersets as nprobe grows, but ADC ordering ≠
      // exact ordering: a new list's better-ADC candidates can displace a
      // true neighbor from the rerank shortlist, so the measured curve is
      // monotone only up to that displacement — allow 2 pair flips (0.04
      // of 50 pairs) and hard-gate the full-dial point
      require(recalls.zip(recalls.tail).forall { case (a, b) => b >= a - 0.04 },
        s"IVFADC recall must be (near-)nondecreasing in nprobe: $recalls")
      require(recalls.last >= 0.6,
        f"IVFADC recall ${recalls.last}%.4f below the 0.6 gate at nprobe=4")
    }

    }

    if (on("docs")) {
    // 9. MinHash+LSH near-dup dedup at 1M docs (~30 words each, Zipf-ish
    // vocab): 10% are near-copies of a base doc (2 words perturbed) so the
    // banded LSH has real work. shingle explode → 16 minhashes → 4×4 bands
    // → band equi-join → exact Jaccard on candidates; never all-pairs.
    val nDocs = 1000000
    val base = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(29)), i =>
        concat(lit("w"), pmod(hash((col("id") % (nDocs / 10) * 10), i), lit(5000))))).as("text"))
    val docs = base.select(col("doc_id"),
      when(col("doc_id") % 10 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" x"), (col("doc_id") % 97).cast("string")))
        .as("text"))
    val docPairs = operators.TextOps.lshCandidatePairs(
      operators.TextOps.minhashSignatures(docs))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    timed(s"minhash_lsh_jaccard_${nDocs / 1000}k_docs") {
      operators.TextOps.jaccardPairs(docs, docPairs)
        .write.format("noop").mode("overwrite").save()
    }

    // 9b. MinHash RECALL GATE: docs (id, id+100k) share a 30-word base and
    // differ by one suffix token (3 of ~31 shingles → Jaccard ≈ 0.8); with
    // 16 minhashes in 4×4 bands a j≈0.8 pair surfaces with
    // 1-(1-j⁴)⁴ ≈ 0.90 — measured against the exact-Jaccard≥0.7 truth set
    // so the text near-dup path is recall-gated like the embedding path.
    timed(s"minhash_recall_${nDocs / 1000}k") {
      val planted = docs.filter(col("doc_id") < nDocs / 10)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + nDocs / 10).as("doc_b"))
      val truth = operators.TextOps.jaccardPairs(docs, planted)
        .filter(col("jaccard") >= 0.7).select("doc_a", "doc_b").cache()
      val nTruth = truth.count()
      val hit = docPairs.join(truth, Seq("doc_a", "doc_b")).count()
      val recall = hit.toDouble / nTruth
      println(f"[scale] minhash_recall: $hit/$nTruth = $recall%.4f (gate >= 0.8)")
      truth.unpersist(); docPairs.unpersist()
      require(recall >= 0.8, f"MinHash LSH recall $recall%.4f below the 0.8 gate")
    }

    // 10. SimHash QUALITY at 1M docs: docs sharing id mod 100k have the
    // same 30-word base and differ by at most one appended suffix token, so
    // planted pairs (id, id+100k) must sit within a small Hamming ball —
    // the fingerprint does its dedup job iff near-copies stay near in hash
    // space.
    timed(s"simhash_planted_hamming_${nDocs / 1000}k") {
      val sh = operators.TextOps.simhash(docs).cache()
      val pairs = sh.filter(col("doc_id") < nDocs / 10)
        .select(col("doc_id").as("a"), col("simhash").as("sim_a"))
        .join(sh.filter(col("doc_id") >= nDocs / 10 && col("doc_id") < 2 * nDocs / 10)
          .select((col("doc_id") - nDocs / 10).as("a"), col("simhash").as("sim_b")), "a")
        .select(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      val total = pairs.count()
      val close = pairs.filter(col("hamming") <= 8).count()
      val frac = close.toDouble / total
      println(f"[scale] simhash_hamming<=8 on planted pairs: $close/$total = $frac%.4f (gate >= 0.9)")
      sh.unpersist()
      require(frac >= 0.9, f"SimHash planted-pair closeness $frac%.4f below the 0.9 gate")
    }

    // 10a-1. Banded Hamming near-dup at 1M 64-bit fingerprints: uniform
    // base hashes (xxhash64 avalanche) plus 100k planted partners with
    // 1–3 deterministic bit flips. bands=4 > maxHamming=3 ⇒ pigeonhole
    // makes recall EXACT — the gate asserts every planted pair surfaces,
    // not a fraction. Uniform hashes are the candidate-volume worst case
    // for skew-free banding (≈ N²·bands/2^16 candidate rows; a 10M corpus
    // would move to a wider fingerprint, e.g. 2×64-bit with 32-bit bands).
    timed("hamming_neardup_1M_hashes") {
      val nH = 1000000L
      val baseH = spark.range(nH).select(col("id"), xxhash64(col("id")).as("h"))
      val flips = expr(
        "shiftleft(1L, CAST(id % 64 AS INT)) | " +
          "shiftleft(1L, CAST((id * 7 + 13) % 64 AS INT)) | " +
          "shiftleft(1L, CAST((id * 31 + 5) % 64 AS INT))")
      val plantedH = baseH.filter(col("id") < nH / 10)
        .select(col("id"), col("h"), col("h").bitwiseXOR(flips).as("h2"))
      val all = baseH.select(col("h"))
        .unionByName(plantedH.select(col("h2").as("h"))).distinct()
      val got = operators.Fuzzy.hammingNearDupPairs(all, "h",
          bits = 64, bands = 4, maxHamming = 3)
        .select(col("hash_a"), col("hash_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val want = plantedH
        .select(least(col("h"), col("h2")).as("hash_a"),
          greatest(col("h"), col("h2")).as("hash_b")).distinct()
      val nWant = want.count()
      val hit = got.join(want, Seq("hash_a", "hash_b")).count()
      got.unpersist()
      println(s"[scale] hamming_neardup planted pairs found: $hit/$nWant (gate ==)")
      require(hit == nWant,
        s"banded Hamming join missed ${nWant - hit} planted pairs — pigeonhole broken")
    }

    // 10a-1b. The next order needs a WIDER fingerprint, not more bands:
    // at 10M, a 64-bit hash's 16-bit bands hold ~150 hashes each (≈3e9
    // candidate pairs); a 128-bit fingerprint gives 4 bands of 32 bits
    // (expected bucket occupancy ≈ 0.002) so candidates collapse to the
    // planted pairs. Same pigeonhole-exact recall gate, 1M planted
    // 1–3-bit-flip partners across both words.
    if (big) timed("hamming_neardup_10M_wide128") {
      val nH = 10000000L
      val baseW = spark.range(nH).select(col("id"),
        xxhash64(col("id")).as("h0"), xxhash64(col("id"), lit(1)).as("h1"))
      def mask(bitExpr: String, word: Int): String =
        s"CASE WHEN ($bitExpr) div 64 = $word " +
          s"THEN shiftleft(1L, CAST(($bitExpr) % 64 AS INT)) ELSE 0L END"
      val bitsE = Seq("id % 128", "(id * 7 + 13) % 128", "(id * 31 + 5) % 128")
      def flips(word: Int): Column =
        expr(bitsE.map(b => mask(b, word)).mkString(" | "))
      val plantedW = baseW.filter(col("id") < nH / 10)
        .select(col("id"), col("h0"), col("h1"),
          col("h0").bitwiseXOR(flips(0)).as("p0"),
          col("h1").bitwiseXOR(flips(1)).as("p1"))
      val allW = baseW.select(col("h0"), col("h1"))
        .unionByName(plantedW.select(col("p0").as("h0"), col("p1").as("h1")))
        .distinct()
      val gotW = operators.Fuzzy.hammingNearDupPairsWide(allW, Seq("h0", "h1"),
          bands = 4, maxHamming = 3)
        .select(col("hash_a"), col("hash_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wantW = plantedW.select(
        least(struct(col("h0"), col("h1")), struct(col("p0").as("h0"), col("p1").as("h1"))).as("hash_a"),
        greatest(struct(col("h0"), col("h1")), struct(col("p0").as("h0"), col("p1").as("h1"))).as("hash_b"))
        .distinct()
      val nWantW = wantW.count()
      val hitW = gotW.join(wantW, Seq("hash_a", "hash_b")).count()
      gotW.unpersist()
      println(s"[scale] hamming_wide128 planted pairs found: $hitW/$nWantW (gate ==)")
      require(hitW == nWantW,
        s"wide Hamming join missed ${nWantW - hitW} planted pairs at 10M")
    }

    // 10a-2. Blocked levenshtein join at 1M three-token phrases: 10k
    // blocks (the leading token) of ~100 phrases each — 50M thresholded
    // candidate comparisons, the early-abandon DP's bread and butter —
    // with 100k planted single-edit partners inside their base's block.
    // Gate: every planted pair surfaces at lev ≤ 2.
    timed("fuzzy_blocked_join_1M_phrases") {
      val nP = 1000000L
      val baseP = spark.range(nP).select(col("id"),
        concat(lit("w"), (col("id") % 10000).cast("string")).as("w1"),
        concat(lit("m"), ((col("id") * 7919) % 10000).cast("string"),
          lit(" x"), col("id").cast("string")).as("rest"))
      val phrases = baseP
        .select(col("w1"), concat(col("w1"), lit(" "), col("rest")).as("phrase"))
      // partner: last token's marker x→y, a 1-edit change in the same block
      val plantedP = baseP.filter(col("id") < nP / 10)
        .select(col("w1"),
          concat(col("w1"), lit(" "), col("rest")).as("phrase_a"),
          concat(col("w1"), lit(" "),
            regexp_replace(col("rest"), lit(" x"), lit(" y"))).as("phrase_b"))
      val allP = phrases
        .unionByName(plantedP.select(col("w1"), col("phrase_b").as("phrase")))
      val gotP = operators.Fuzzy.blockedLevenshteinPairs(allP, "w1", "phrase", maxDist = 2)
        .select(col("str_a"), col("str_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wantP = plantedP.select(
        least(col("phrase_a"), col("phrase_b")).as("str_a"),
        greatest(col("phrase_a"), col("phrase_b")).as("str_b")).distinct()
      val nWantP = wantP.count()
      val hitP = gotP.join(wantP, Seq("str_a", "str_b")).count()
      gotP.unpersist()
      println(s"[scale] fuzzy_blocked planted pairs found: $hitP/$nWantP (gate ==)")
      require(hitP == nWantP,
        s"blocked levenshtein join missed ${nWantP - hitP} planted single-edit pairs")
    }

    // 10a-2b. AUTOMATIC hot-block salting: 500k uniform phrases (5k
    // blocks of ~100) plus ONE pathological block of 5.8k phrases sharing
    // the first word — ~3e7 candidate comparisons that an unsalted plan
    // puts on ONE reducer (AQE cannot help: its coalescer and skew
    // splitter both size by shuffle BYTES, and the block is tiny by bytes,
    // quadratic by output). The salted join fans the block over
    // ceil((5.8k)²/1000²)=34 sub-blocks behind an AQE-exempt user
    // repartition. Gates: the salted pair set is row-identical to the
    // unsalted one, every planted single-edit pair in the hot block
    // surfaces, and the salted wall-clock strictly beats the one-reducer
    // plan (expected gap ~10x; strict < survives host spikes).
    timed("fuzzy_salted_hot_block_506k") {
      // uniform tails are 12-digit multiplicative-hash numbers so
      // incidental lev<=2 pairs stay rare (a "x<id>" tail made 2/3 of all
      // in-block pairs survive and the 16.5M-pair result drowned the
      // skew signal this gate exists to measure)
      val uni = spark.range(500000L).select(
        concat(lit("w"), (col("id") % 5000).cast("string")).as("w1"),
        concat(lit("w"), (col("id") % 5000).cast("string"), lit(" m"),
          ((col("id") * 7919) % 5000).cast("string"),
          lit(" x"), ((col("id") * 2654435761L) % 1000000000000L).cast("string")).as("phrase"))
      val hotBase = spark.range(5000L).select(col("id"),
        concat(lit("hot m"), ((col("id") * 104729) % 997).cast("string"),
          lit(" x"), ((col("id") * 1779033703L) % 1000000000000L).cast("string")).as("phrase"))
      val hot = hotBase.select(lit("hot").as("w1"), col("phrase"))
      // plant: 800 single-edit partners inside the hot block (x -> y)
      val plantedH = hotBase.filter(col("id") < 800)
        .select(col("phrase").as("phrase_a"),
          regexp_replace(col("phrase"), lit(" x"), lit(" y")).as("phrase_b"))
      val allH = uni.unionByName(hot)
        .unionByName(plantedH.select(lit("hot").as("w1"), col("phrase_b").as("phrase")))
      def pairsAt(thr: Int): (Long, org.apache.spark.sql.DataFrame, Long) = {
        val t0 = System.nanoTime()
        val got = operators.Fuzzy
          .blockedLevenshteinPairs(allH, "w1", "phrase", maxDist = 2,
            hotBlockThreshold = thr)
          .select(col("str_a"), col("str_b"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = got.count() // the timed action; the comparisons below hit the cache
        (((System.nanoTime() - t0) / 1e6).toLong, got, n)
      }
      val (tSalted, gotSalted, nSalted) = pairsAt(1000)
      val (tPlain, gotPlain, nPlain) = pairsAt(Int.MaxValue) // ns = 1 everywhere
      val diff = gotSalted.except(gotPlain).count() + gotPlain.except(gotSalted).count()
      require(nSalted == nPlain && diff == 0,
        s"salted pair set differs from unsalted: $nSalted vs $nPlain, $diff asymmetric")
      val wantH = plantedH.select(
        least(col("phrase_a"), col("phrase_b")).as("str_a"),
        greatest(col("phrase_a"), col("phrase_b")).as("str_b")).distinct()
      val nWantH = wantH.count()
      val hitH = gotSalted.join(wantH, Seq("str_a", "str_b")).count()
      gotSalted.unpersist(); gotPlain.unpersist()
      require(hitH == nWantH,
        s"salted join missed ${nWantH - hitH} planted hot-block pairs")
      println(s"[scale] fuzzy_salted hot block: salted ${tSalted}ms vs one-reducer ${tPlain}ms ($nSalted pairs)")
      require(tSalted < tPlain,
        s"salting must beat the one-reducer plan: salted $tSalted ms vs plain $tPlain ms")
    }

    // 10a-2c. Two-table LINKAGE at 1M x 1M (the q128 gate's A-cross-B
    // mirror, spec-gated only until now): left and right each carry 1M
    // three-token phrases over 10k shared first-word blocks; 100k right
    // rows are planted single-edit partners of left rows. Gate: every
    // planted cross-table link surfaces at lev <= 2.
    timed("fuzzy_linkage_1M_x_1M") {
      val nP = 1000000L
      val baseL = spark.range(nP).select(col("id"),
        concat(lit("w"), (col("id") % 10000).cast("string")).as("w1"),
        concat(lit("m"), ((col("id") * 7919) % 10000).cast("string"),
          lit(" x"), col("id").cast("string")).as("rest"))
      val left = baseL.select(col("w1"),
        concat(col("w1"), lit(" "), col("rest")).as("phrase"))
      // right: its own 1M distinct phrases (marker z, never within 2
      // edits of a left row's " x<id>" tail at equal length) plus the
      // planted partners (x -> y, one edit from their left source)
      val right = spark.range(nP).select(
          concat(lit("w"), (col("id") % 10000).cast("string")).as("w1"),
          concat(lit("w"), (col("id") % 10000).cast("string"), lit(" zz"),
            ((col("id") * 104729) % 10000).cast("string"),
            lit(" q"), col("id").cast("string")).as("phrase"))
        .unionByName(baseL.filter(col("id") < nP / 10)
          .select(col("w1"), concat(col("w1"), lit(" "),
            regexp_replace(col("rest"), lit(" x"), lit(" y"))).as("phrase")))
      val links = operators.Fuzzy
        .blockedLevenshteinJoin(left, right, "w1", "phrase", maxDist = 2)
        .select(col("str_a"), col("str_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wantL = baseL.filter(col("id") < nP / 10).select(
        concat(col("w1"), lit(" "), col("rest")).as("str_a"),
        concat(col("w1"), lit(" "),
          regexp_replace(col("rest"), lit(" x"), lit(" y"))).as("str_b"))
        .distinct()
      val nWantL = wantL.count()
      val hitL = links.join(wantL, Seq("str_a", "str_b")).count()
      links.unpersist()
      println(s"[scale] fuzzy_linkage planted links found: $hitL/$nWantL (gate ==)")
      require(hitL == nWantL,
        s"linkage join missed ${nWantL - hitL} planted cross-table links")
    }

    // 10a-2d. Sorted-neighborhood candidate generation at 10M rows with
    // an identity closed form: keys are a permutation of 0..n−1, so the
    // record of global rank r has key r−1 and the d-th successor pair is
    // exactly key_b = key_a + d. Gates the two-phase distributed ranking
    // (per-bucket windows + broadcast offsets — no single-reducer sort)
    // at a scale where a global row_number window would serialize 10M
    // rows onto one task. Asserts exact pair count and zero rank slips.
    timed("sorted_neighborhood_10M_rows") {
      val n = 10000000L
      val wN = 4
      val rows = spark.range(n).select(col("id"),
        ((col("id") * 2654435761L) % n).as("key"))
      val pairs = operators.Fuzzy.sortedNeighborhood(rows, "id", "key",
        w = wN, bucketWidth = 4096L)
      val a = pairs.agg(count(lit(1)),
        count(when(col("key_b") - col("key_a") =!= col("d"), 1))).head()
      val wantPairs = (1 until wN).map(d => n - d).sum
      require(a.getLong(0) == wantPairs && a.getLong(1) == 0L,
        s"sorted-neighborhood closed form failed: $a (want $wantPairs pairs, 0 slips)")
    }

    // 10a-3. WordPiece greedy encode over 1M DISTINCT words (the encode
    // runs per distinct word, so this is 1000× the natural corpus-vocab
    // load): derived vocab broadcast, per-row max-munch kernel. Gate:
    // every word's pieces reassemble it (closed-form, checked
    // distributed — zero rows may fail).
    timed("wordpiece_encode_1M_words") {
      val nW = 1000000L
      val words = spark.range(nW).select(
        concat(lit("tok"), col("id").cast("string"),
          lit("end"), (col("id") % 97).cast("string")).as("word"),
        (col("id") % 1000 + 1).as("freq"))
      val vocab = operators.WordPiece.deriveVocab(words, topWords = 20,
        maxPrefix = 4, maxSuffix = 3)
      val enc = operators.WordPiece.encodeWords(spark, words, vocab)
      val bad = enc.filter(
        replace(col("encoded"), lit(" ##"), lit("")) =!= col("word")).count()
      require(bad == 0, s"$bad of $nW words failed piece reassembly")
    }

    // 10a-3b. TRAINED WordPiece at 1M docs, closed-form merge sequence.
    // Every doc is "xy ab u<id%1000>"; every 1000th doc appends " qz".
    // The planted (q,##z) pair has the LOWEST count (1k vs 1M) but the
    // HIGHEST likelihood 1k/(1k·1k) = 1e-3 — a thousand-fold margin over
    // (a,##b)/(x,##y) at 1M/(1M·1M) = 1e-6 and ≥2.7× over every digit
    // pair (max (u,##1) = 111k/(1M·300k) ≈ 3.7e-7), so no float near-tie;
    // merge 2 vs 3 is the exact-equal-score tie broken by a ASC. Gates
    // both the vocab-table reduction (training never re-scans the corpus)
    // and that likelihood, not raw count, drives the argmax at scale.
    timed("wordpiece_train_1M_docs") {
      import graft.operators.WordPiece
      val nDocsW = 1000000L
      val docsW = spark.range(nDocsW).select(col("id").as("doc_id"),
        concat(lit("xy ab u"), (col("id") % 1000).cast("string"),
          when(col("id") % 1000 === 0, lit(" qz")).otherwise(lit(""))).as("text"))
      val merges = WordPiece.train(WordPiece.symTable(docsW), 3)
      val want = Seq(
        WordPiece.Merge(0, "q", "##z", "qz", 1000L, 1000L, 1000L),
        WordPiece.Merge(1, "a", "##b", "ab", nDocsW, nDocsW, nDocsW),
        WordPiece.Merge(2, "x", "##y", "xy", nDocsW, nDocsW, nDocsW))
      require(merges == want,
        s"trained wordpiece drifted at $nDocsW docs: $merges vs $want")
    }

    // 10b. Connected components at ~900k nodes: 10-node clusters (the
    // shape dedup produces — already near-stars) PLUS a 1024-node path
    // appended, the worst case for round count: label propagation would
    // need 1024 rounds; large-star/small-star contracts the path in ~10.
    // Ground truth is closed-form, so labels are asserted exactly at scale.
    timed("connected_components_900k_nodes") {
      val clusters = spark.range(900000).filter(col("id") % 10 =!= 0)
        .select(col("id").as("src"), (col("id") - col("id") % 10).as("dst"))
      val path = spark.range(1023)
        .select((col("id") + 900000L).as("src"), (col("id") + 900001L).as("dst"))
      // threshold 0: force the DISTRIBUTED star algorithm (the point of
      // this gate); the default adaptive path would solve 901k edges on
      // the driver
      val cc = operators.ConnectedComponents.run(clusters.unionByName(path),
        smallGraphThreshold = 0L)
      val bad = cc.filter(col("component") =!=
        when(col("node") < 900000L, col("node") - col("node") % 10)
          .otherwise(lit(900000L))).count()
      require(bad == 0, s"$bad wrong component labels at scale")
    }

    // 10c. Sequence packing at 10M docs via the two-phase prefix scan
    // (256 range buckets): the layout's closed-form invariants — the last
    // token position equals the corpus token total, and every 2048-token
    // window up to that total is inhabited — are asserted exactly.
    timed("pack_sequences_10M_docs") {
      val docs10 = spark.range(10000000).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), (pmod(col("id"), lit(50)) + 1).cast("int")),
          _ => lit("w"))).as("text"))
      val packed = operators.TextOps.packSequences(docs10, seqLen = 2048, nBuckets = 256)
      val agg = packed.agg(max(col("start_tok") + col("n_tok")).as("end"),
        sum(col("n_tok")).as("total"), countDistinct(col("seq_id")).as("nseq")).head()
      require(agg.getLong(0) == agg.getLong(1),
        s"packing end ${agg.getLong(0)} != token total ${agg.getLong(1)}")
      require(agg.getLong(2) == (agg.getLong(1) + 2047) / 2048,
        s"window count ${agg.getLong(2)} != ceil(total/2048)")
    }

    // 10d. Decontamination at 1M docs: eval = the first 10k docs. Base
    // texts repeat with period 100k, so ground truth is closed-form — a
    // train doc shares its base with an eval doc iff id%100k < 10k (the
    // ~28 shared base shingles put overlap ≈ 0.9), and cross-group trigram
    // collisions are ~5000⁻³ — so the flag set is asserted EXACTLY: all
    // 90k planted leaks, zero false positives. The 10k-doc eval set
    // (~290k distinct shingle hashes, ~2 MB) broadcasts — the 100 TB shape
    // where benchmarks are tiny next to the corpus.
    timed(s"decontaminate_${nDocs / 1000}k_docs") {
      val flagged = operators.TextOps.decontaminate(docs,
          isEval = col("doc_id") < 10000, minFrac = 0.1)
        .filter(col("contaminated")).select("doc_id").cache()
      val nFlagged = flagged.count()
      val falsePos = flagged.filter(col("doc_id") % 100000 >= 10000).count()
      flagged.unpersist()
      require(nFlagged == 90000L && falsePos == 0L,
        s"decontamination flagged $nFlagged (want 90000) with $falsePos false positives")
    }

    // 10e. DSIR importance scoring at 1M docs: 10% target docs draw 80% of
    // tokens from a "t" vocab, the rest 20% (and vice versa for raw docs),
    // so the hashed-unigram likelihood ratio must classify ~perfectly at
    // scale. Both frequency tables stay bounded at 8192 rows — the
    // broadcast never grows with the corpus.
    timed(s"dsir_scores_${nDocs / 1000}k_docs") {
      val dsirDocs = spark.range(nDocs).select(col("id").as("doc_id"),
        (col("id") % 10 === 0).as("is_t"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)), i =>
          concat(
            when(pmod(hash(col("id"), i, lit(7)), lit(10)) <
              when(col("id") % 10 === 0, 8).otherwise(2), lit("t")).otherwise(lit("r")),
            pmod(hash(col("id"), i), lit(2000))))).as("text"))
      val scored = operators.TextOps.dsirScores(dsirDocs, isTarget = col("is_t"))
      val acc = scored.join(dsirDocs.select("doc_id", "is_t"), "doc_id")
        .select(avg(when(col("is_target_like") === col("is_t"), 1.0).otherwise(0.0)).as("acc"))
        .head().getDouble(0)
      println(f"[scale] dsir classification accuracy at ${nDocs / 1000}k: $acc%.4f (gate >= 0.99)")
      require(acc >= 0.99, f"DSIR accuracy $acc%.4f below the 0.99 gate")
    }

    // 10f. Mixture epoch weighting at 1M docs: a 90/10 corpus reshaped to
    // 50/50 — realized per-stratum token budgets must land within 0.5% of
    // target (the md5 coin calibrates), and the rare stratum's integral
    // rate must replicate exactly.
    timed(s"mixture_epochs_${nDocs / 1000}k_docs") {
      val strata = spark.range(nDocs).select(col("id").as("doc_id"),
        when(col("id") % 10 === 0, "rare").otherwise("common").as("s"))
      val per = operators.TextOps.mixtureEpochs(strata, col("s"),
          Map("rare" -> 0.5, "common" -> 0.5))
        .groupBy("stratum").agg(sum(col("n_copies")).as("tok")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(per("rare") == nDocs / 2,
        s"integral rate 5.0 must replicate exactly: ${per("rare")}")
      val devn = math.abs(per("common").toDouble / (nDocs / 2) - 1.0)
      require(devn < 0.005, s"common-stratum budget off target by $devn")
    }

    // 10g. Duplicated-span detection at 1M docs: 10% of docs are exact
    // copies in 10-copy groups (every span duplicated), the rest draw
    // 10-token spans from a 5M vocab (collision odds ~0) — so the
    // dup_heavy set is asserted EXACTLY.
    timed(s"dup_spans_${nDocs / 1000}k_docs") {
      val spanDocs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)), i =>
          concat(lit("s"), pmod(hash(
            // copy groups key on [0, 10k); unique docs on [nDocs, 2·nDocs)
            // — disjoint, so only the copies share spans
            when(col("id") % 10 === 0, col("id") / 10 % 10000)
              .otherwise(col("id") + nDocs),
            i, lit(13)), lit(5000000))))).as("text"))
      val heavy = operators.TextOps.dupSpans(spanDocs, n = 10, minFrac = 0.5)
        .filter(col("dup_heavy")).select("doc_id").cache()
      val nHeavy = heavy.count()
      val falsePos = heavy.filter(col("doc_id") % 10 =!= 0).count()
      heavy.unpersist()
      require(nHeavy == nDocs / 10 && falsePos == 0L,
        s"dup-span flagged $nHeavy (want ${nDocs / 10}) with $falsePos false positives")
    }

    // 10g1b. Duplicate-span REMOVAL at 1M docs over the same planted
    // corpus: copies lose every token (30 tokens, all inside duplicated
    // 10-shingles), uniques lose none — asserted exactly, plus the
    // untouched docs' rewrites must be byte-identical (split∘join
    // identity), so the map-side interval reconstruction is scale-gated,
    // not just spec-gated.
    timed(s"remove_dup_spans_${nDocs / 1000}k_docs") {
      val spanDocs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)), i =>
          concat(lit("s"), pmod(hash(
            when(col("id") % 10 === 0, col("id") / 10 % 10000)
              .otherwise(col("id") + nDocs),
            i, lit(13)), lit(5000000))))).as("text"))
      val rw = operators.TextOps.removeDupSpans(spanDocs, n = 10)
        .join(spanDocs, "doc_id")
      val agg = rw.agg(
        sum(when(col("doc_id") % 10 === 0 && col("n_removed") === 30 &&
          col("clean_text") === "", 1L).otherwise(0L)).as("copies_emptied"),
        sum(when(col("doc_id") % 10 =!= 0 && col("n_removed") === 0 &&
          col("clean_text") === col("text"), 1L).otherwise(0L)).as("uniques_intact")
      ).head()
      require(agg.getLong(0) == nDocs / 10 && agg.getLong(1) == nDocs - nDocs / 10,
        s"span removal: ${agg.getLong(0)} copies emptied (want ${nDocs / 10}), " +
          s"${agg.getLong(1)} uniques intact (want ${nDocs - nDocs / 10})")
    }

    // 10g1c. BPE training at 1M docs: the whole scale claim is that
    // training reduces to the word-frequency table, so the gate asserts
    // the REDUCTION exactly — merges learned from 1M documents must equal
    // merges learned from the equivalent 1003-row weighted vocabulary
    // (uniform corpus scaling cannot move any argmax).
    timed(s"bpe_train_${nDocs / 1000}k_docs") {
      import graft.operators.Bpe
      val docs1m = spark.range(nDocs).select(col("id").as("doc_id"),
        concat(lit("the quick fox u"), (col("id") % 1000).cast("string")).as("text"))
      val merges = Bpe.train(Bpe.wordTable(docs1m), 6)
      val vocabRows = Seq(("the", nDocs.toLong), ("quick", nDocs.toLong),
        ("fox", nDocs.toLong)) ++ (0 until 1000).map(i => (s"u$i", (nDocs / 1000).toLong))
      val refVocab = vocabRows.toDF("w", "freq")
        .withColumn("syms", concat(
          expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
          array(lit(Bpe.Marker))))
      val ref = Bpe.train(refVocab, 6)
      require(merges == ref,
        s"vocab-table reduction drifted at ${nDocs} docs: $merges vs $ref")
    }

    // 10g1d. WARC crawl round trip at 1M records: write the corpus as the
    // splittable one-member-per-record layout, read it back through the
    // member-parallel fanout plan, and assert nothing was lost or
    // corrupted (exact id-sum + total body bytes). Gates the ingest path
    // (offset discovery + seek/inflate) at crawl-segment scale.
    timed("warc_roundtrip_1000k_records") {
      val dir = java.nio.file.Files.createTempDirectory("graft_warc_scale").toString
      val docs1m = spark.range(1000000).select(col("id").as("doc_id"),
        concat(lit("crawl body "), col("id").cast("string"), lit(" "),
          lpad(col("id").cast("string"), 40, "x")).as("text"))
      sources.WarcIO.writeCrawl(docs1m, dir)
      val back = sources.WarcIO.readCrawlFanout(spark, dir)
        .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          length(col("text")).as("len"))
      val row = back.agg(count(lit(1)), sum(col("doc_id")), sum(col("len"))).head()
      val expLen = docs1m.agg(sum(length(col("text")))).head().getLong(0)
      require(row.getLong(0) == 1000000L && row.getLong(1) == 499999500000L &&
        row.getLong(2) == expLen,
        s"warc roundtrip lost data: n=${row.getLong(0)} idsum=${row.getLong(1)} " +
          s"bytes=${row.getLong(2)} want $expLen")
      // best-effort local cleanup (temp dir is per-run)
      scala.util.Try(org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir)))
      ()
    }

    // 10g2. Weighted sampling at 10M rows: half weight 10, half weight 1.
    // For k ≪ n the A-ES tail odds are 1-t^w ≈ w·(1-t), so the heavy:light
    // inclusion ratio must approach 10:1 — heavy share ≈ 10/11 ≈ 0.909,
    // gated at ±0.03. Plans as TakeOrderedAndProject: no global sort, the
    // driver sees k rows.
    timed("weighted_sample_10M_rows") {
      val rows = spark.range(10000000).select(col("id").as("doc_id"),
        when(col("id") % 2 === 0, 10.0).otherwise(1.0).as("w"))
      val s = operators.TextOps.weightedSample(rows, col("w"), k = 10000)
      val heavyShare = s.filter(col("weight") === 10.0).count() / 10000.0
      println(f"[scale] weighted_sample heavy share: $heavyShare%.4f (want 0.909 ± 0.03)")
      require(math.abs(heavyShare - 10.0 / 11) < 0.03,
        f"A-ES inclusion odds off: heavy share $heavyShare%.4f vs 0.909")
    }

    // 10i. Perceptual dHash at 1M 512-byte frames (~512 MB decoded, 16×32
    // px → 4×8 blocks → 24 hash bits): 10% of payloads repeat in 10-copy
    // groups keyed on id%10k — every same-key pair MUST share a hash
    // (asserted exactly); the 900k unique frames must spread widely over
    // the 24-bit space (measured ~800k distinct — below the ~880k ideal
    // birthday bound because adjacent comparison bits share a block and
    // are negatively correlated, i.e. <24 bits of entropy by design).
    timed(s"image_dhash_${nDocs / 1000}k_frames") {
      import graft.operators.Multimodal
      import spark.implicits._
      val key = when(col("id") % 10 === 0, col("id") / 10 % 10000)
        .otherwise(col("id") + nDocs)
      val media = spark.range(nDocs).select(col("id").as("media_id"),
          lit("gray").as("kind"),
          encode(concat_ws("", transform(sequence(lit(0), lit(15)),
            i => md5(concat(key.cast("string"), lit(":"), i)))), "UTF-8")
            .as("payload"),
          lit(16).as("width"), lit(0).as("height"))
        .as[Multimodal.MediaRow]
      val h = Multimodal.dHash(media, width = 16, pool = 4).cache()
      val copyHashes = h.filter(col("media_id") % 10 === 0)
        .select((col("media_id") / 10 % 10000).as("k"), col("dhash"))
        .groupBy("k").agg(countDistinct(col("dhash")).as("nh"))
        .filter(col("nh") > 1).count()
      val uniqSpread = h.filter(col("media_id") % 10 =!= 0)
        .select(countDistinct(col("dhash"))).head().getLong(0)
      h.unpersist()
      require(copyHashes == 0L, s"$copyHashes copy groups split across hashes")
      println(f"[scale] dhash unique-frame spread: $uniqSpread (want ~880k of 900k)")
      require(uniqSpread > 750000L, s"dhash spread collapsed: $uniqSpread")
    }

    // 10h. Epoch shuffle at 10M docs: the two-phase global rank must yield
    // an exact permutation (0..n-1, all distinct) without ever funneling
    // the corpus through one task.
    timed("epoch_shuffle_10M_docs") {
      val n = 10000000L
      val ids = spark.range(n).select(col("id").as("doc_id"))
      val agg = operators.TextOps.epochShuffle(ids, epoch = 3)
        .agg(count(lit(1)).as("c"), countDistinct(col("shuffle_pos")).as("d"),
          min(col("shuffle_pos")).as("lo"), max(col("shuffle_pos")).as("hi")).head()
      require(agg.getLong(0) == n && agg.getLong(1) == n &&
        agg.getLong(2) == 0L && agg.getLong(3) == n - 1,
        s"epoch shuffle is not a permutation: $agg")
    }

    // Greedy budget selection at 10M rows, closed form: 1000 score levels
    // of 10k rows each, unit cost, budget 5M ⇒ keeps EXACTLY the 5M rows
    // whose score level is in the top 500 (levels 999..500), inclusive
    // running cost topping out at 5M. Gates the two-phase shape: only the
    // ≤1001-row bucket table may cross SinglePartition.
    timed("budget_select_10M_rows") {
      val n = 10000000L
      val budget = 5000000L
      val rows10m = spark.range(n).select(col("id").as("doc_id"),
        ((col("id") % 1000).cast("double") / 1000.0).as("score"),
        lit(1L).as("cost"))
      val out = operators.TextOps.budgetSelect(rows10m, "score", "cost",
        budget, buckets = 1000)
      val a = out.agg(
        count(when(col("keep"), 1)).as("kept"),
        max(when(col("keep"), col("cum_cost"))).as("maxCum"),
        count(when(col("keep") && col("doc_id") % 1000 < 500, 1)).as("wrong")).head()
      require(a.getLong(0) == budget && a.getLong(1) == budget && a.getLong(2) == 0L,
        s"budget-select closed form failed: $a")
    }

    // Rank-free ROC-AUC at 10M rows with 10M DISTINCT scores — the
    // worst case for the two-phase cumulative (every row is its own
    // score group, so the distinct-score table IS corpus-sized and the
    // per-bucket windows carry all of it; only the ≤1025-row bucket-total
    // table may cross SinglePartition). Closed forms: alternating labels
    // over ascending scores ⇒ num2 = M(M+1), auc = ⌊10⁶(M+1)/(2M)⌋ =
    // 500000; top-half-positive ⇒ perfect 10⁶.
    timed("binary_auc_10M_distinct_scores") {
      val n = 10000000L
      val m = n / 2
      val rows = spark.range(n).select(col("id").as("score"),
        (col("id") % 2).as("y"))
      val a = operators.LmOps.binaryAuc(rows, "score", "y").head()
      // ⌊10⁶·M(M+1) / 2M²⌋ = ⌊500000 + 500000/M⌋ = 500000 (the ·M(M+1)
      // product itself would overflow Long — the operator carries it in
      // DECIMAL(38,0), the closed form here is just the reduced value)
      require(a.getLong(1) == m && a.getLong(2) == m &&
        a.getLong(3) == 500000L && a.getLong(4) == 0L,
        s"alternating-label AUC closed form failed: $a")
      val sep = spark.range(n).select(col("id").as("score"),
        when(col("id") >= m, 1L).otherwise(0L).as("y"))
      val b = operators.LmOps.binaryAuc(sep, "score", "y").head()
      require(b.getLong(3) == 1000000L && b.getLong(4) == 1000000L,
        s"separated AUC closed form failed: $b")
    }

    // Keyed AUC at 10M rows / 100 slices: per-key alternating labels over
    // 100k distinct scores each ⇒ every slice lands exactly
    // ⌊10⁶(M+1)/(2M)⌋ = 500010 micro at M = 50000 (the binary_auc closed
    // form, per key — the +10 is the finite-M half-tie term that the 5M-M
    // global gate floors away). Gates the fully-keyed shape: no
    // SinglePartition window at all, 100 slices rank in parallel.
    timed("group_auc_10M_rows_100_slices") {
      val n = 10000000L
      val rows = spark.range(n).select(
        concat(lit("s"), col("id") % 100).as("k"),
        (col("id") / 100).cast("long").as("score"),
        ((col("id") / 100) % 2).as("y"))
      val out = operators.LmOps.binaryAucBy(rows, Seq("k"), "score", "y")
      val a = out.agg(count(lit(1)).as("rows"),
        count(when(col("auc_micro") === 500010L &&
          col("n") === n / 100, 1)).as("good")).head()
      require(a.getLong(0) == 100L && a.getLong(1) == 100L,
        s"keyed AUC closed form failed: $a")
    }

    // Average precision at 10M distinct scores: perfectly separated
    // (positives above all negatives) ⇒ every positive threshold has
    // precision 1 ⇒ ap = 10⁶ exactly; a constant scorer ⇒ one pooled
    // threshold at precision = prevalence ⇒ ap = prevalence = 500000
    // exactly (term = ⌊10⁶·tp·tp/n⌋ = 25·10¹¹ at tp = 5M, ÷tp = 500000).
    // Gates the same two-phase distinct-score discipline as the AUC.
    timed("avg_precision_10M_distinct_scores") {
      val n = 10000000L
      val m = n / 2
      val sep = spark.range(n).select(col("id").as("score"),
        when(col("id") >= m, 1L).otherwise(0L).as("y"))
      val a = operators.LmOps.binaryAp(sep, "score", "y").head()
      require(a.getLong(1) == m && a.getLong(3) == 1000000L &&
        a.getLong(4) == 500000L, s"separated AP closed form failed: $a")
      val const = spark.range(n).select(lit(7L).as("score"),
        (col("id") % 2).as("y"))
      val b = operators.LmOps.binaryAp(const, "score", "y").head()
      require(b.getLong(3) == 500000L && b.getLong(4) == 500000L,
        s"constant-scorer AP closed form failed: $b")
    }

    // Keyed AP at 10M rows / 100 slices: per key, 100k distinct scores
    // with the upper half positive ⇒ perfectly separated ⇒ ap = 10⁶ and
    // prevalence = 500000 in every slice. Gates the fully-keyed AP shape
    // (per-key bucket widths, keyed windows, keyed totals re-join).
    timed("keyed_ap_10M_rows_100_slices") {
      val n = 10000000L
      val rows = spark.range(n).select(
        concat(lit("s"), col("id") % 100).as("k"),
        (col("id") / 100).cast("long").as("score"),
        when((col("id") / 100).cast("long") >= 50000L, 1L).otherwise(0L).as("y"))
      val out = operators.LmOps.binaryApBy(rows, Seq("k"), "score", "y")
      val a = out.agg(count(lit(1)).as("rows"),
        count(when(col("ap_micro") === 1000000L &&
          col("prevalence_micro") === 500000L &&
          col("n") === n / 100, 1)).as("good")).head()
      require(a.getLong(0) == 100L && a.getLong(1) == 100L,
        s"keyed AP closed form failed: $a")
    }

    // Keyed AUC±CI at 10M rows / 100 slices: the group_auc ramp's exact
    // DeLong interval per slice — with per-key alternating labels the
    // placement multiset is {2,4,…,2P} for both classes, so
    // S10 = S01 = (P+1)/(12P²) (the paired gate's derivation with the
    // constant scorer's zero terms removed) and se6/z-free CI bounds are
    // asserted exactly with the operator's own double expression order.
    timed("keyed_auc_ci_10M_rows_100_slices") {
      val n = 10000000L
      val p = n / 200
      val rows = spark.range(n).select(
        concat(lit("s"), col("id") % 100).as("k"),
        (col("id") / 100).cast("long").as("score"),
        ((col("id") / 100) % 2).as("y"))
      val sa10 = BigInt(p) * (p + 1)
      val saa10 = BigInt(2) * p * (p + 1) * (2 * p + 1) / 3
      val num = (BigInt(p) * saa10 - sa10 * sa10).toDouble
      val den = 4.0 * p * p * p * (p - 1) * p
      val se6 = BigDecimal(math.sqrt(num / den + num / den))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val auc = 500010L
      val lo6 = BigDecimal(math.max(0.0, auc.toDouble / 1000000.0 - 1.959964 * se6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val hi6 = BigDecimal(math.min(1.0, auc.toDouble / 1000000.0 + 1.959964 * se6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val out = operators.LmOps.binaryAucSeBy(rows, Seq("k"), "score", "y")
      val a = out.agg(count(lit(1)).as("rows"),
        count(when(col("auc_micro") === auc && col("se6") === se6 &&
          col("lo6") === lo6 && col("hi6") === hi6 &&
          col("n_pos") === p && col("n_neg") === p, 1)).as("good")).head()
      require(a.getLong(0) == 100L && a.getLong(1) == 100L,
        s"keyed AUC-CI closed form failed (want se6=$se6 lo=$lo6 hi=$hi6): $a " +
          out.limit(3).collect().mkString("; "))
    }

    // Keyed paired DeLong at 10M rows / 100 slices: scorer A is the
    // group_auc ramp (per-key alternating labels over 100k distinct
    // scores ⇒ auc_a = 500010 micro), scorer B is CONSTANT (all rows tie
    // ⇒ auc_b = 500000 exactly), so diff = 10 in every slice. With ub
    // constant the B and AB covariance terms vanish and the positives'
    // A-placements are {2,4,…,2M} (negatives the same multiset), giving
    //   nP·Σua² − (Σua)² = P²(P+1)(P−1)/3,  S10 = S01 = (P+1)/(12P²)
    // at P = 50000 — the expected se6/z6 are computed below with the
    // OPERATOR'S own double expression order. Gates the fully-keyed
    // shape: both placement maps and the covariance aggregate per key,
    // zero SinglePartition, 100 slices in parallel.
    timed("paired_delong_10M_rows_100_slices") {
      val n = 10000000L
      val p = n / 200 // positives (= negatives) per slice
      val rows = spark.range(n).select(
        concat(lit("s"), col("id") % 100).as("k"),
        (col("id") / 100).cast("long").as("sa"),
        lit(0L).as("sb"),
        ((col("id") / 100) % 2).as("y"))
      // exact component sums (BigInt), then the operator's double math
      val sa10 = BigInt(p) * (p + 1)
      val saa10 = BigInt(2) * p * (p + 1) * (2 * p + 1) / 3
      val num10 = (BigInt(p) * saa10 - sa10 * sa10).toDouble
      val den10 = 4.0 * p * p * p * (p - 1) * p
      val se = math.sqrt(math.max(0.0, num10 / den10 + num10 / den10))
      val se6 = BigDecimal(se).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      val z6 = BigDecimal((10.0 / 1000000.0) / se6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val out = operators.LmOps.binaryAucCompareBy(rows, Seq("k"),
        "sa", "sb", "y")
      val a = out.agg(count(lit(1)).as("rows"),
        count(when(col("auc_a_micro") === 500010L &&
          col("auc_b_micro") === 500000L && col("diff_micro") === 10L &&
          col("n_pos") === p && col("n_neg") === p &&
          col("se6") === se6 && col("z6") === z6, 1)).as("good")).head()
      require(a.getLong(0) == 100L && a.getLong(1) == 100L,
        s"keyed paired-DeLong closed form failed (want se6=$se6 z6=$z6): $a " +
          out.limit(3).collect().mkString("; "))
    }

    // Keyed isotonic calibration at 10M rows / 100 slices: per key, 32
    // bins × 3125 rows with positives = 100·b except a planted violator
    // pair (bin 10: 1090, bin 11: 1010) ⇒ PAV pools EXACTLY those two
    // bins in every slice: iso = ⌊2100·10⁶/6250⌋ = 336000 there,
    // ⌊100b·10⁶/3125⌋ = 32000·b elsewhere (rate(9) = 900 < pooled 1050
    // per 3125 < rate(12) = 1200, so pooling provably stops). Gates the
    // one-pass groupBy(key, bin) shape + the 3200-row bounded collect +
    // 100 independent driver fits.
    timed("keyed_isotonic_10M_rows_100_slices") {
      val n = 10000000L
      val rows = spark.range(n).select(
        concat(lit("s"), col("id") % 100).as("k"),
        expr("id DIV 100 % 32 * 31250 + 15625").as("pm"),
        expr("""CAST(CASE WHEN id DIV 100 DIV 32 <
                  CASE WHEN id DIV 100 % 32 = 10 THEN 1090
                       WHEN id DIV 100 % 32 = 11 THEN 1010
                       ELSE id DIV 100 % 32 * 100 END
                THEN 1 ELSE 0 END AS BIGINT)""").as("y"))
      val out = operators.LmOps.isotonicCalibrateBy(rows, Seq("k"),
        "pm", "y", bins = 32)
      val expIso = when(col("bin").isin(10L, 11L), 336000L)
        .otherwise(col("bin") * 32000L)
      val a = out.agg(count(lit(1)).as("rows"),
        count(when(col("n") === 3125L && col("iso_micro") === expIso &&
          col("conf_micro") === col("bin") * 31250L + 15625L, 1))
          .as("good")).head()
      require(a.getLong(0) == 3200L && a.getLong(1) == 3200L,
        s"keyed isotonic closed form failed: $a — " +
          out.limit(5).collect().mkString("; "))
    }

    // Keyed mutual information at 10M rows / 100 slices: per key, two
    // perfectly-associated binary columns (b = a) ⇒ the two observed
    // cells each carry o/n = 0.5 and lift 2, so per slice
    // mi6 = round6(2·round9(0.5·ln 2)) = 0.693147 = h_a6 = h_b6 and
    // nmi6 = 1.0 exactly. Gates the fully-keyed MI shape: per-key
    // observed-cell tables and marginals, keyed joins, no grid, zero
    // SinglePartition, 100 slices in parallel.
    timed("keyed_mutual_info_10M_rows_100_slices") {
      val n = 10000000L
      val rows = spark.range(n).select(
        concat(lit("s"), col("id") % 100).as("k"),
        expr("CAST(id DIV 100 % 2 AS STRING)").as("a"),
        expr("CAST(id DIV 100 % 2 AS STRING)").as("b"))
      val out = operators.Profile.mutualInfoBy(rows, Seq("k"), "a", "b")
      val a = out.agg(count(lit(1)).as("rows"),
        count(when(col("n") === n / 100 && col("n_a") === 2L &&
          col("n_b") === 2L && col("mi6") === 0.693147 &&
          col("h_a6") === 0.693147 && col("h_b6") === 0.693147 &&
          col("nmi6") === 1.0, 1)).as("good")).head()
      require(a.getLong(0) == 100L && a.getLong(1) == 100L,
        s"keyed MI closed form failed: $a — " +
          out.limit(3).collect().mkString("; "))
    }

    // Kendall τ-b at 10M rows over 100 coarse values with y = x (and the
    // reversed y): every cross-value pair is concordant (discordant), so
    //   conc = n₀ − n₁ = 49 999 995 000 000 − 499 995 000 000
    // exactly (n₁ = n₂ = 100·C(100k, 2)) and τ-b = ±1.0. Gates the
    // dense-grid double cumulative at 10⁴ cells with 10M underlying rows
    // — the distinct-cell shuffle plus the two axis-partitioned windows.
    timed("kendall_tau_b_10M_rows_coarse") {
      val n = 10000000L
      val expConc = 49500000000000L
      val expTies = 499995000000L
      val fwd = spark.range(n).select((col("id") % 100).as("x"),
        (col("id") % 100).as("y"))
      val f = operators.Profile.kendallTauB(fwd, "x", "y").head()
      require(f.getLong(0) == n && f.getLong(1) == expConc &&
        f.getLong(2) == 0L && f.getLong(3) == expTies &&
        f.getLong(4) == expTies && f.getDouble(5) == 1.0,
        s"kendall forward closed form failed: $f")
      val rev = spark.range(n).select((col("id") % 100).as("x"),
        (lit(99L) - col("id") % 100).as("y"))
      val r = operators.Profile.kendallTauB(rev, "x", "y").head()
      require(r.getLong(1) == 0L && r.getLong(2) == expConc &&
        r.getDouble(5) == -1.0, s"kendall reverse closed form failed: $r")
    }

    // Keyed τ-b at 10M rows / 100 slices over 50 coarse values with
    // y = x per slice: conc = n₀ − n₁ per slice exactly (n per slice
    // 100k, 2k rows per value ⇒ n₁ = 50·C(2000, 2) = 99 950 000,
    // n₀ = C(100000, 2) = 4 999 950 000) and τ-b = 1.0 in every slice.
    // Gates the keyed dense-grid double cumulative — per-key grids via
    // equi-joins, keyed windows, 100 slices in parallel.
    timed("keyed_kendall_10M_rows_100_slices") {
      val n = 10000000L
      val expConc = 4999950000L - 99950000L
      val rows = spark.range(n).select(
        concat(lit("s"), col("id") % 100).as("k"),
        expr("id DIV 100 % 50").as("x"),
        expr("id DIV 100 % 50").as("y"))
      val out = operators.Profile.kendallTauBBy(rows, Seq("k"), "x", "y")
      val a = out.agg(count(lit(1)).as("rows"),
        count(when(col("n") === n / 100 && col("conc") === expConc &&
          col("disc") === 0L && col("tie_x_pairs") === 99950000L &&
          col("tie_y_pairs") === 99950000L && col("tau_b6") === 1.0, 1))
          .as("good")).head()
      require(a.getLong(0) == 100L && a.getLong(1) == 100L,
        s"keyed kendall closed form failed: $a — " +
          out.limit(3).collect().mkString("; "))
    }

    // Keyed AP bootstrap CI at 10M rows / 100 slices / 8 resamples with
    // the scoreBuckets=1000 quantization knob: per slice the scorer is
    // perfectly separated at score 50000, and the per-key equal-width
    // quantization ((99999−0) DIV 1000 + 1 = width exactly 100) keeps the
    // positive/negative boundary ON a bucket edge, so separation — and
    // the closed form — survives quantization: Poisson weights never
    // reorder scores, every resample with a surviving positive is still
    // separated ⇒ all 8 resampled APs are exactly 10⁶ ⇒ se6 = 0.0 and
    // lo6 = hi6 = 1.0 in every slice (P(a resample drops all 50k
    // positives) = e^{−50000}). Gates the md5-coin expansion at 90M
    // hashed (row, resample) pairs plus the keyed AP machinery with the
    // resample id as an extra key — zero SinglePartition — at the
    // BOUNDED shuffle the knob buys: the synthetic scores are tie-free,
    // so without it the distinct-score table IS 90M rows (the honest
    // worst case inherent to an exact bootstrap — r17 measured 111 s
    // here); bucketing caps it at 9×1000 rows per slice, same closed
    // form.
    timed("keyed_ap_ci_10M_100_slices_8_resamples_1k_buckets") {
      val n = 10000000L
      val rows = spark.range(n).select(
        concat(lit("s"), col("id") % 100).as("k"),
        col("id").as("rid"),
        (col("id") / 100).cast("long").as("score"),
        when((col("id") / 100).cast("long") >= 50000L, 1L).otherwise(0L).as("y"))
      val out = operators.LmOps.binaryApCiBy(rows, Seq("k"), "rid",
        "score", "y", resamples = 8, scoreBuckets = 1000)
      val a = out.agg(count(lit(1)).as("rows"),
        count(when(col("n") === n / 100 && col("ap_micro") === 1000000L &&
          col("b") === 8L && col("se6") === 0.0 &&
          col("lo6") === 1.0 && col("hi6") === 1.0, 1)).as("good")).head()
      require(a.getLong(0) == 100L && a.getLong(1) == 100L,
        s"keyed AP-CI closed form failed: $a — " +
          out.limit(3).collect().mkString("; "))
    }

    // The scoreBuckets knob's bound, measured head-to-head (r19 verdict):
    // the SAME 1M-row / 20-slice / 8-resample bootstrap runs once with
    // bucketing OFF — the scores are tie-free, so the distinct-score
    // table IS the full (resamples+1)×rows expansion, the honest
    // exact-bootstrap worst case q220 hits — and once with
    // scoreBuckets=1000, which caps it at (resamples+1)×buckets rows per
    // slice REGARDLESS of ties. Quantization keeps the positive/negative
    // boundary on a bucket edge (width (49999−0) DIV 1000 + 1 = 50, the
    // boundary 25000 = 500·50), so BOTH runs must produce the identical
    // closed form (ap=10⁶, se6=0, lo6=hi6=1.0 in all 20 slices): the two
    // printed seconds document what the knob buys, the asserts prove it
    // changes cost, not results. 1M (not 10M) keeps the unbucketed worst
    // case gate-able — r17 measured 111 s for it at 10M rows.
    def apCiKnobRows = {
      val n = 1000000L
      spark.range(n).select(
        concat(lit("s"), col("id") % 20).as("k"),
        col("id").as("rid"),
        (col("id") / 20).cast("long").as("score"),
        when((col("id") / 20).cast("long") >= 25000L, 1L).otherwise(0L).as("y"))
    }
    def apCiKnobGate(out: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val a = out.agg(count(lit(1)).as("rows"),
        count(when(col("n") === 50000L && col("ap_micro") === 1000000L &&
          col("b") === 8L && col("se6") === 0.0 &&
          col("lo6") === 1.0 && col("hi6") === 1.0, 1)).as("good")).head()
      require(a.getLong(0) == 20L && a.getLong(1) == 20L,
        s"$tag AP-CI closed form failed: $a")
    }
    timed("keyed_ap_ci_1M_tie_free_exact_no_buckets") {
      apCiKnobGate(operators.LmOps.binaryApCiBy(apCiKnobRows, Seq("k"), "rid",
        "score", "y", resamples = 8, scoreBuckets = 0), "unbucketed")
    }
    timed("keyed_ap_ci_1M_same_input_1k_buckets") {
      apCiKnobGate(operators.LmOps.binaryApCiBy(apCiKnobRows, Seq("k"), "rid",
        "score", "y", resamples = 8, scoreBuckets = 1000), "bucketed")
    }

    // Keyed χ² at 10M rows / 100 slices: per key a perfectly-associated
    // 2×2 (b = a) ⇒ χ² = n exactly (every cell's term is 10⁶·n/4), so
    // chi2_micro = 10¹¹, dof = 1, V = 1.0 in every slice. Gates the
    // keyed cell-grid shape — per-key grids via equi-joins, keyed
    // quotient+remainder cell math, 100 slices in parallel.
    timed("keyed_chi_square_10M_rows_100_slices") {
      val n = 10000000L
      val rows = spark.range(n).select(
        concat(lit("s"), col("id") % 100).as("k"),
        expr("CAST(id DIV 100 % 2 AS STRING)").as("a"),
        expr("CAST(id DIV 100 % 2 AS STRING)").as("b"))
      val out = operators.Profile.chiSquareBy(rows, Seq("k"), "a", "b")
      val a = out.agg(count(lit(1)).as("rows"),
        count(when(col("n") === n / 100 && col("dof") === 1L &&
          col("chi2_micro") === 100000000000L &&
          col("cramers_v") === 1.0, 1)).as("good")).head()
      require(a.getLong(0) == 100L && a.getLong(1) == 100L,
        s"keyed chi-square closed form failed: $a — " +
          out.limit(3).collect().mkString("; "))
    }

    // Keyed Spearman at 10M rows / 100 slices: per key 100k distinct
    // values with y = x ⇒ ρ = +10⁶ exactly; a second pass with
    // y = max − x ⇒ ρ = −10⁶ exactly (Σd² = (n³−n)/3). Gates the keyed
    // two-phase rank maps — per-key min/max buckets, keyed offset and
    // local windows, keyed rank re-attach joins — at 10M distinct
    // (key, value) rank rows.
    timed("keyed_spearman_10M_rows_100_slices") {
      val n = 10000000L
      val fwd = spark.range(n).select(
        concat(lit("s"), col("id") % 100).as("k"),
        (col("id") / 100).cast("long").as("x"),
        (col("id") / 100).cast("long").as("y"))
      val f = operators.Profile.spearmanBy(fwd, Seq("k"), "x", "y")
        .agg(count(lit(1)).as("rows"),
          count(when(col("n") === n / 100 &&
            col("rho_micro") === 1000000L, 1)).as("good")).head()
      require(f.getLong(0) == 100L && f.getLong(1) == 100L,
        s"keyed spearman forward closed form failed: $f")
      val rev = spark.range(n).select(
        concat(lit("s"), col("id") % 100).as("k"),
        (col("id") / 100).cast("long").as("x"),
        (lit(99999L) - (col("id") / 100).cast("long")).as("y"))
      val r = operators.Profile.spearmanBy(rev, Seq("k"), "x", "y")
        .agg(count(lit(1)).as("rows"),
          count(when(col("n") === n / 100 &&
            col("rho_micro") === -1000000L, 1)).as("good")).head()
      require(r.getLong(0) == 100L && r.getLong(1) == 100L,
        s"keyed spearman reverse closed form failed: $r")
    }

    // CMH at 10M rows / 1000 strata: per stratum (10k rows) the two
    // binaries are exactly INDEPENDENT (a = bit0, b = bit1 of the
    // in-stratum index) ⇒ every per-stratum d-term is exactly 0 and
    // every OR-term exactly 625.0, so cmh6 = 0.0 and or_mh6 = 1.0
    // exactly. Gates the one-groupBy four-conditional-sum shape at a
    // 1000-row stratum table — no cell grid, no join anywhere.
    timed("cmh_10M_rows_1000_strata") {
      val n = 10000000L
      val rows = spark.range(n).select(
        (col("id") % 1000).as("k"),
        expr("id DIV 1000 % 2").as("a"),
        expr("id DIV 2000 % 2").as("b"))
      val r = operators.Profile.cmh2x2(rows, Seq("k"), "a", "b").head()
      require(r.getLong(0) == 1000L && r.getLong(1) == n &&
        r.getLong(2) == 0L && r.getDouble(3) == 0.0 && r.getDouble(4) == 1.0,
        s"CMH independence closed form failed: $r")
    }

    // Cochran–Armitage trend at 10M rows: perfect 2-band separation ⇒
    // the trend χ²₁ equals N exactly (ca6 = 10⁷); 10 balanced bands with
    // an independent outcome ⇒ A = 0 exactly (trend 0, ca6 = 0). Gates
    // the one-groupBy bounded-band shape with DECIMAL(38,0) moments.
    timed("trend_test_10M_rows") {
      val n = 10000000L
      val perfect = spark.range(n).select((col("id") % 2).as("w"),
        (col("id") % 2).as("y"))
      val p = operators.Profile.trendTest(perfect, "w", "y").head()
      require(p.getLong(0) == n && p.getLong(3) == 1L &&
        p.getDouble(4) == 10000000.0,
        s"trend perfect closed form failed: $p")
      val indep = spark.range(n).select((col("id") % 10).as("w"),
        expr("id DIV 10 % 2").as("y"))
      val i = operators.Profile.trendTest(indep, "w", "y").head()
      require(i.getLong(3) == 0L && i.getDouble(4) == 0.0,
        s"trend independence closed form failed: $i")
    }

    // Keyed Cochran–Armitage trend at 10M rows / 100 slices: per slice
    // (100k rows) a perfect 2-band separation ⇒ the trend χ²₁ equals the
    // slice n exactly (ca6 = 100000.0, trend +1) in every slice. Gates
    // the keyed one-groupBy bounded-band shape — (key × band) table,
    // keyed DECIMAL(38,0) moments, zero SinglePartition, no join.
    timed("keyed_trend_10M_rows_100_slices") {
      val n = 10000000L
      val rows = spark.range(n).select(
        (col("id") % 100).as("k"),
        expr("id DIV 100 % 2").as("w"),
        expr("id DIV 100 % 2").as("y"))
      val out = operators.Profile.trendTestBy(rows, Seq("k"), "w", "y")
      val a = out.agg(count(lit(1)).as("rows"),
        count(when(col("n") === n / 100 && col("n_groups") === 2L &&
          col("trend") === 1L && col("ca6") === 100000.0, 1)).as("good"))
        .head()
      require(a.getLong(0) == 100L && a.getLong(1) == 100L,
        s"keyed trend closed form failed: $a — " +
          out.limit(3).collect().mkString("; "))
    }

    // Benjamini–Hochberg over a 10M-SLICE p-table: 100 planted p = 0
    // among 10M − 100 nulls at p ≥ 0.1 (heavily tied). Closed form: the
    // planted zeros satisfy 0·m ≤ α·rank and every null fails even at the
    // maximal rank (10⁵·10⁷ = 10¹² > 5·10⁴·10⁷ = 5·10¹¹), so EXACTLY the
    // 100 zeros flag, threshold 0, max-tie rank 100. Gates the two-phase
    // distinct-p rank at ~900k distinct values — only bucket-total/1-row
    // frames cross a single partition even at a dashboard 10⁵× wider
    // than any real slice table.
    timed("bh_fdr_10M_slices") {
      val n = 10000000L
      val rows = spark.range(n).select(col("id").as("slice"),
        expr("CASE WHEN id < 100 THEN 0L ELSE 100000 + id % 899999 END")
          .as("p_micro"))
      val out = operators.Profile.bhFdr(rows, "p_micro")
      val a = out.agg(count(lit(1)).as("rows"),
        coalesce(sum(col("significant")), lit(0L)).as("n_sig"),
        count(when(col("significant") === 1L && col("slice") < 100L &&
          col("bh_rank") === 100L && col("m") === n &&
          col("bh_thresh_micro") === 0L, 1)).as("good")).head()
      require(a.getLong(0) == n && a.getLong(1) == 100L && a.getLong(2) == 100L,
        s"BH closed form failed: $a — " + out.limit(3).collect().mkString("; "))
    }

    // Keyed CUSUM at 10M rows / 100 monitors × 100k-step sequences: each
    // key runs in-control (x = target, increments −allowance → S pinned
    // at 0) until step 99000, then drifts +2·allowance (S grows
    // allowance/step). Closed form: S ≥ 300 = 60·allowance from the 60th
    // drift step on ⇒ exactly 941 alarm rows per key, 94100 total, zero
    // downward alarms. Gates the per-key double-window (running sum +
    // running min) over genuinely LONG sequences — the shape where a
    // naive global sort would collapse to one task.
    timed("keyed_cusum_10M_rows_100_monitors") {
      val n = 10000000L
      val rows = spark.range(n).select(
        (col("id") % 100).as("k"),
        expr("id DIV 100").as("b"),
        expr("CASE WHEN id DIV 100 >= 99000 THEN 110L ELSE 100L END").as("x"),
        lit(100L).as("target"), lit(5L).as("allowance"),
        lit(300L).as("threshold"))
      val out = operators.Profile.cusumBy(rows, Seq("k"), "b", "x",
        "target", "allowance", "threshold")
      val a = out.agg(count(lit(1)).as("rows"),
        coalesce(sum(col("alarm_hi")), lit(0L)).as("hi"),
        coalesce(sum(col("alarm_lo")), lit(0L)).as("lo")).head()
      require(a.getLong(0) == n && a.getLong(1) == 94100L && a.getLong(2) == 0L,
        s"keyed CUSUM closed form failed: $a")
    }

    // RBO at 1M queries × k=10 (10M ranking rows per side): side B is
    // side A identically ranked ⇒ RBO_EXT = (1−p)Σp^{d−1} + p^k = 1.0
    // exactly at round-6 in EVERY query; a doc-id-offset B is fully
    // disjoint ⇒ 0.0 exactly. Gates the keyed rank join + bounded ≤k²
    // depth expansion at retrieval-eval scale — zero SinglePartition.
    timed("rbo_1M_queries_k10") {
      val nq = 1000000L
      def ranks(off: Long) = spark.range(nq * 10).select(
        (col("id") % nq).as("query_id"),
        (col("id") + off).as("doc_id"),
        expr(s"CAST(id DIV $nq AS INT) + 1").as("rank"))
      val a = ranks(0L)
      val same = operators.LmOps.rbo(a, ranks(0L), k = 10)
        .agg(count(lit(1)).as("rows"),
          count(when(col("rbo6") === 1.0 && col("n_common") === 10L, 1))
            .as("good")).head()
      require(same.getLong(0) == nq && same.getLong(1) == nq,
        s"RBO identical closed form failed: $same")
      val disj = operators.LmOps.rbo(a, ranks(100000000L), k = 10)
        .agg(count(lit(1)).as("rows"),
          count(when(col("rbo6") === 0.0 && col("n_common") === 0L, 1))
            .as("good")).head()
      require(disj.getLong(0) == nq && disj.getLong(1) == nq,
        s"RBO disjoint closed form failed: $disj")

      // slice rollup + corpus deciles over the same identical-lists
      // closed form: every slice must average exactly 10⁶ micro and
      // every decile must read 10⁶ — gates the keyed rollup and the
      // constant-key two-phase quantile at 1M queries / 100 slices.
      val slices = spark.range(nq).select(col("id").as("query_id"),
        (col("id") % 100).cast("string").as("slice"))
      val by = operators.LmOps.rboBy(a, ranks(0L), slices, k = 10)
        .agg(count(lit(1)).as("rows"),
          count(when(col("n_queries") === nq / 100 &&
            col("mean_rbo_micro") === 1000000L &&
            col("min_rbo_micro") === 1000000L &&
            col("mean_agreement_micro") === 1000000L, 1)).as("good")).head()
      require(by.getLong(0) == 100L && by.getLong(1) == 100L,
        s"RBO slice rollup closed form failed: $by")
      val dec = operators.LmOps.rboQuantiles(a, ranks(0L), k = 10,
          qs = Seq(0.1, 0.5, 0.9))
        .agg(count(lit(1)).as("rows"),
          count(when(col("value") === 1000000L, 1)).as("good")).head()
      require(dec.getLong(0) == 3L && dec.getLong(1) == 3L,
        s"RBO decile closed form failed: $dec")
    }

    // Randomization test at 10M rows × 8 resamples: perfect separation
    // (A all-positive, B all-negative) ⇒ d_obs = 10⁶; no md5 coin split
    // of 10M rows reproduces |d| = 10⁶ (P ≈ 2⁻¹⁰⁷), so n_ge = 0 and
    // p_micro = ⌊10⁶/9⌋ = 111111 exactly. Gates the map-side ×B md5
    // expansion at 80M hashed (row, resample) pairs with a B-row shuffle
    // — the permutation engine's whole 100 TB claim.
    timed("perm_test_10M_rows_8_resamples") {
      val n = 10000000L
      val rows = spark.range(n).select(col("id"),
        when(col("id") % 2 === 0, "A").otherwise("B").as("g"),
        (lit(1L) - col("id") % 2).as("y"))
      val r = operators.Profile.permTestRate(rows, "id", "g", "y", "A", "B",
        resamples = 8).head()
      require(r.getLong(0) == n / 2 && r.getLong(1) == n / 2 &&
        r.getLong(4) == 1000000L && r.getLong(6) == 0L &&
        r.getLong(7) == 111111L,
        s"permutation separation closed form failed: $r")
    }

    // Keyed randomization test at 10M rows / 100 slices × 8 resamples:
    // per slice (100k rows) A is all-positive and B all-negative ⇒
    // d_obs = 10⁶ and no coin split reproduces it ⇒ every slice floors
    // at p = ⌊10⁶/9⌋ = 111111. Gates the per-key threshold equi-joins +
    // the (key × B)-row shuffle at 80M hashed pairs.
    timed("keyed_perm_test_10M_rows_100_slices") {
      val n = 10000000L
      // the group bit must be independent of the key (id % 100 and id % 2
      // correlate), so it comes from the id's hundreds digit
      val rows = spark.range(n).select(
        (col("id") % 100).as("k"), col("id"),
        expr("CASE WHEN id DIV 100 % 2 = 0 THEN 'A' ELSE 'B' END").as("g"),
        expr("1L - id DIV 100 % 2").as("y"))
      val out = operators.Profile.permTestRateBy(rows, Seq("k"), "id", "g",
        "y", "A", "B", resamples = 8)
      val a = out.agg(count(lit(1)).as("rows"),
        count(when(col("n_a") === n / 200 && col("d_obs_micro") === 1000000L &&
          col("n_ge") === 0L && col("p_micro") === 111111L, 1)).as("good"))
        .head()
      require(a.getLong(0) == 100L && a.getLong(1) == 100L,
        s"keyed permutation closed form failed: $a — " +
          out.limit(3).collect().mkString("; "))
    }

    // Mean-diff randomization test at 10M rows × 8 resamples: A all
    // value 1000, B all value 0 ⇒ d_obs = 10⁹ micro; no md5 coin split
    // reproduces a pure resample (P ≈ 2⁻¹⁰⁷), so n_ge = 0 and p floors
    // at ⌊10⁶/9⌋ = 111111. Same 80M-hashed-pairs map-side expansion as
    // the rate gate, now with DECIMAL(38,0) sum lanes.
    timed("perm_test_mean_10M_rows_8_resamples") {
      val n = 10000000L
      val rows = spark.range(n).select(col("id"),
        when(col("id") % 2 === 0, "A").otherwise("B").as("g"),
        ((lit(1L) - col("id") % 2) * 1000L).as("x"))
      val r = operators.Profile.permTestMean(rows, "id", "g", "x", "A", "B",
        resamples = 8).head()
      require(r.getLong(0) == n / 2 && r.getLong(1) == n / 2 &&
        r.getLong(2) == 1000L * n / 2 && r.getLong(3) == 0L &&
        r.getLong(4) == 1000000000L && r.getLong(6) == 0L &&
        r.getLong(7) == 111111L,
        s"mean permutation separation closed form failed: $r")
    }

    // Keyed mean randomization test at 10M rows / 100 slices × 8
    // resamples: per slice A is all-1000 and B all-0 ⇒ every slice
    // floors at p = 111111 (group bit from the hundreds digit — it must
    // be independent of the id % 100 key).
    timed("keyed_perm_test_mean_10M_rows_100_slices") {
      val n = 10000000L
      val rows = spark.range(n).select(
        (col("id") % 100).as("k"), col("id"),
        expr("CASE WHEN id DIV 100 % 2 = 0 THEN 'A' ELSE 'B' END").as("g"),
        expr("(1L - id DIV 100 % 2) * 1000").as("x"))
      val out = operators.Profile.permTestMeanBy(rows, Seq("k"), "id", "g",
        "x", "A", "B", resamples = 8)
      val a = out.agg(count(lit(1)).as("rows"),
        count(when(col("n_a") === n / 200 && col("d_obs_micro") === 1000000000L &&
          col("n_ge") === 0L && col("p_micro") === 111111L, 1)).as("good"))
        .head()
      require(a.getLong(0) == 100L && a.getLong(1) == 100L,
        s"keyed mean permutation closed form failed: $a — " +
          out.limit(3).collect().mkString("; "))
    }

    // McNemar at 10M paired rows: symmetric discordance (a = bit0,
    // b = bit1 ⇒ n₁₀ = n₀₁ = 2.5M) ⇒ statistic exactly 0, flat trend;
    // one-sided discordance (b ≡ 0 ⇒ n₀₁ = 0) ⇒ χ²₁ = n₁₀ = 5M exactly
    // (micro 5·10¹²), trend +1. One scalar map-side aggregate, no key.
    timed("mcnemar_10M_rows") {
      val n = 10000000L
      val sym = spark.range(n).select((col("id") % 2).as("a"),
        expr("id DIV 2 % 2").as("b"))
      val s = operators.Profile.mcnemar(sym, "a", "b").head()
      require(s.getLong(0) == n && s.getLong(5) == 0L && s.getLong(6) == 0L,
        s"mcnemar symmetric closed form failed: $s")
      val oneSided = spark.range(n).select((col("id") % 2).as("a"),
        lit(0L).as("b"))
      val o = operators.Profile.mcnemar(oneSided, "a", "b").head()
      require(o.getLong(2) == n / 2 && o.getLong(5) == 1L &&
        o.getLong(6) == 5000000000000L,
        s"mcnemar one-sided closed form failed: $o")
    }

    // Two-sample KS at 2×10M rows: side B is side A shifted by s = n/10,
    // so the CDF gap is exactly s/n = 0.1 everywhere in the overlap and
    // first attained at v = s−1 (cum_a = s, cum_b = 0). Gates the same
    // two-phase distinct-value discipline as the AUC (11M distinct
    // values, per-bucket windows) plus the TakeOrdered argmax tie rule.
    timed("ks_two_sample_20M_rows") {
      val n = 10000000L
      val s = n / 10
      val a = spark.range(n).select(col("id").as("v"), lit("A").as("g"))
      val b = spark.range(n).select((col("id") + s).as("v"), lit("B").as("g"))
      val r = operators.Profile.ksTwoSample(a.unionByName(b), "v", "g", "A", "B").head()
      require(r.getLong(0) == s - 1 && r.getLong(1) == n && r.getLong(2) == n &&
        r.getLong(3) == s && r.getLong(4) == 0L && r.getLong(5) == 100000L,
        s"KS shift closed form failed: $r")
    }

    // Jensen–Shannon at 2×10M rows: fully DISJOINT sides (B = A + n) put
    // every bucket one-sided, each contributing share·ln2/2, so js6 hits
    // the ln 2 bound EXACTLY (0.693147 at round-6) — the case PSI must
    // exclude entirely (all buckets one-sided); identical sides read 0.
    // Gates the fourth (v, ca, cb)-store reader at 20M distinct values.
    timed("js_divergence_20M_rows") {
      val n = 10000000L
      val a = spark.range(n).select(col("id").as("v"), lit("A").as("g"))
      val bDisj = spark.range(n).select((col("id") + n).as("v"), lit("B").as("g"))
      val d = operators.Profile.jsDivergence(a.unionByName(bDisj),
        "v", "g", "A", "B").agg(count(lit(1)).as("rows"),
          count(when(col("js6") === 0.693147, 1)).as("good")).head()
      require(d.getLong(0) == d.getLong(1) && d.getLong(0) >= 16L,
        s"JS disjoint closed form failed: $d")
      val bSame = spark.range(n).select(col("id").as("v"), lit("B").as("g"))
      val s = operators.Profile.jsDivergence(a.unionByName(bSame),
        "v", "g", "A", "B").agg(count(lit(1)).as("rows"),
          count(when(col("js6") === 0.0, 1)).as("good")).head()
      require(s.getLong(0) == s.getLong(1) && s.getLong(0) == 16L,
        s"JS identical closed form failed: $s")
    }

    // Wasserstein-1 at 2×10M rows over the SAME shift construction: a
    // shift by s moves every unit of mass exactly s, so W1 = s exactly
    // (w1_micro = 10⁶·s) — the area closed form, where KS only sees the
    // 0.1 gap. Gates the third reader of the (v, ca, cb) store at 11M
    // distinct values: per-bucket cumulative AND per-bucket LEAD with
    // the bucket-boundary successor off the ≤1025-row bucket table.
    timed("wasserstein1_20M_rows") {
      val n = 10000000L
      val s = n / 10
      val a = spark.range(n).select(col("id").as("v"), lit("A").as("g"))
      val b = spark.range(n).select((col("id") + s).as("v"), lit("B").as("g"))
      val r = operators.Profile.wasserstein1(a.unionByName(b), "v", "g", "A", "B").head()
      require(r.getLong(0) == n && r.getLong(1) == n &&
        r.getLong(2) == n + s && r.getLong(3) == 1000000L * s,
        s"W1 shift closed form failed: $r")
    }

    // Keyed Wasserstein-1 at 10M rows / 100 slices: per slice B is A
    // shifted by s = 1000 on a 100k grid ⇒ w1_micro = 10⁹ exactly in
    // every slice. Gates the per-key two-phase cumulative + per-key Δv
    // lead at 10M distinct (key, value) rows.
    timed("keyed_w1_10M_rows_100_slices") {
      val n = 10000000L
      val s = 1000L
      val a = spark.range(n / 2).select(
        (col("id") % 100).as("k"), expr("id DIV 100").as("v"), lit("A").as("g"))
      val b = spark.range(n / 2).select(
        (col("id") % 100).as("k"), expr(s"id DIV 100 + $s").as("v"),
        lit("B").as("g"))
      val out = operators.Profile.wasserstein1By(a.unionByName(b),
        Seq("k"), "v", "g", "A", "B")
      val r = out.agg(count(lit(1)).as("rows"),
        count(when(col("n_a") === n / 200 && col("n_b") === n / 200 &&
          col("w1_micro") === s * 1000000L, 1)).as("good")).head()
      require(r.getLong(0) == 100L && r.getLong(1) == 100L,
        s"keyed W1 shift closed form failed: $r — " +
          out.limit(3).collect().mkString("; "))
    }

    // W1 drift ATTRIBUTION at 2×10M rows: B is A with the single value
    // c moved to c+d, both inside attribution bucket c DIV width — the
    // whole CDF difference (hence the whole area) lives in that bucket,
    // so contrib_micro = 10⁶ there and 0 in the other 15. Gates the
    // fifth store reader: same two-phase cumulative, plus the bounded
    // 16-bucket rollup and exact integer share division.
    timed("w1_attribution_20M_rows") {
      val n = 10000000L
      val c = 2000000L
      val d = 10000L
      val a = spark.range(n).select(col("id").as("v"), lit("A").as("g"))
      val b = spark.range(n).select(
        when(col("id") === c, c + d).otherwise(col("id")).as("v"),
        lit("B").as("g"))
      val out = operators.Profile.w1Attribution(a.unionByName(b),
        "v", "g", "A", "B", buckets = 16)
      val hitBucket = c / ((n - 1) / 16 + 1)
      val r = out.agg(count(lit(1)).as("rows"),
        coalesce(sum(when(col("bucket") === hitBucket, col("contrib_micro"))),
          lit(0L)).as("hit"),
        coalesce(sum(col("contrib_micro")), lit(0L)).as("total")).head()
      require(r.getLong(0) == 16L && r.getLong(1) == 1000000L &&
        r.getLong(2) == 1000000L,
        s"W1 attribution closed form failed: $r — " +
          out.orderBy(col("bucket")).limit(17).collect().mkString("; "))
    }

    // 10h. C4 cleaning at 1M docs with closed-form truth: ids ≡ 0 mod 7
    // get a 3-good-sentence page (kept), ids ≡ 1 mod 7 a lorem-ipsum page
    // (blocked), everyone else a 1-sentence page (dropped, not blocked).
    timed("c4_clean_1M_docs") {
      val n = 1000000L
      val good = "One decent long sentence sits here.\nAnother decent long " +
        "sentence sits here.\nA third decent long sentence sits here."
      val blocked = good + "\nlorem ipsum dolor sit amet consectetur."
      val thin = "Only one decent long sentence here."
      val docs1m = spark.range(n).select(col("id").as("doc_id"),
        when(col("id") % 7 === 0, good)
          .when(col("id") % 7 === 1, blocked)
          .otherwise(thin).as("text"))
      val flags = operators.TextOps.c4Clean(docs1m)
      val a = flags.agg(
        count(when(col("keep"), 1)),
        count(when(col("page_blocked"), 1)),
        count(lit(1))).head()
      val nGood = (0L until n).count(_ % 7 == 0) // 142858
      val nBlocked = (0L until n).count(_ % 7 == 1)
      require(a.getLong(0) == nGood && a.getLong(1) == nBlocked &&
        a.getLong(2) == n,
        s"c4 closed form failed: $a want keep=$nGood blocked=$nBlocked")
    }

    // 10h1b. EXACT set-similarity join (prefix filter) at 1M docs:
    // docs 2k/2k+1 are single-last-token edits of a 12-token phrase
    // whose words draw from a multiplicative-hash space (no accidental
    // cross-pair similarity) — 3-gram shingles give inter 9 / union 11,
    // J = 9/11 ≥ 4/5 exactly for planted pairs and ~0 otherwise. Gates:
    // the join returns EXACTLY the 500k planted pairs (the no-recall-loss
    // promise at scale) with exact integer inter/union.
    timed("prefix_filter_join_1M_docs") {
      val nPairs = 500000L
      val words = (0 until 12).map { j =>
        if (j < 11) concat(lit(s"w${j}_"),
          pmod(col("pair") * 2654435761L + lit(j * 40503L), lit(999999937L)).cast("string"))
        else concat(lit("t_"), col("twin").cast("string"), lit("_"),
          pmod(col("pair") * 97L, lit(999999937L)).cast("string"))
      }
      val docs1m = spark.range(2 * nPairs).select(
        col("id").as("doc_id"), expr("id DIV 2").as("pair"), (col("id") % 2).as("twin"))
        .select(col("doc_id"), concat_ws(" ", words: _*).as("text"))
      val got = operators.TextOps.prefixFilterJoin(docs1m, 4, 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = got.count()
      val planted = got.filter(col("doc_a") % 2 === 0 &&
        col("doc_b") === col("doc_a") + 1 &&
        col("n_inter") === 9L && col("n_union") === 11L).count()
      got.unpersist()
      println(s"[scale] prefix_filter planted pairs: $planted/$nPairs of $n rows (gate ==)")
      require(n == nPairs && planted == nPairs,
        s"prefix-filter join returned $n rows, $planted planted — want $nPairs/$nPairs")
    }

    // 10h3. Vocabulary-coverage curve at 11M tokens / 1M-token vocab:
    // 10 head tokens at 1M occurrences each + 1M singleton tail tokens
    // gives closed-form answers (50% → rank 6, 90% → rank 10, 99% →
    // rank 890,010) — and the SHAPE claim: the only global window runs
    // over the 2-row frequency histogram, never the 1M-token vocabulary.
    timed("vocab_coverage_11M_tokens") {
      val head = spark.range(10000000L).select(
        col("id").as("doc_id"),
        concat(lit("h"), (col("id") % 10).cast("string")).as("text"))
      val tail = spark.range(1000000L).select(
        (col("id") + 10000000L).as("doc_id"),
        concat(lit("t"), col("id").cast("string")).as("text"))
      val got = operators.TextOps.vocabCoverage(
          head.unionByName(tail), Seq(50, 90, 99))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      require(got(50) == ((6L, 6000000L)) && got(90) == ((10L, 10000000L)) &&
        got(99) == ((890010L, 10890000L)),
        s"vocab coverage closed form diverged: $got")
    }

    // 10h2. Corpus-global line dedup at 1M docs: every doc carries one
    // globally shared line, one line shared by its id%1000 group, and one
    // unique line. First-occurrence-wins gives a closed form: doc 0 keeps
    // all 3, docs 1-999 (first of their group) keep 2, everyone else
    // keeps only the unique line — 3M line rows, ~1M+1001 distinct
    // hashes through one window shuffle.
    timed("corpus_line_dedup_1M_docs") {
      val n = 1000000L
      val docs1m = spark.range(n).select(col("id").as("doc_id"),
        concat(
          lit("shared boilerplate header line\ngroup "),
          (col("id") % 1000).cast("string"),
          lit(" navigation line\nunique content line "),
          col("id").cast("string")).as("text"))
      val out = operators.TextOps.corpusLineDedup(docs1m)
      val byKept = out.groupBy(col("n_kept")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      require(byKept == Map(3 -> 1L, 2 -> 999L, 1 -> (n - 1000L)),
        s"line-dedup closed form failed: $byKept")
      val tail = out.filter(col("doc_id") === n - 1).head()
      require(tail.getAs[Int]("n_lines") == 3 &&
        tail.getAs[String]("deduped_text") == s"unique content line ${n - 1}",
        s"tail doc wrong: $tail")
    }

    // 10i. Kneser-Ney perplexity at 1M docs: 90% template docs repeat one
    // fluent bigram chain; 10% draw pseudo-random token pairs. The KN
    // model trained on the mix must separate the populations (mean nll of
    // template docs strictly below random docs), and identical docs must
    // score identically.
    timed("kn_perplexity_1M_docs") {
      val n = 1000000L
      val docs1m = spark.range(n).select(col("id").as("doc_id"),
        when(col("id") % 10 =!= 9,
          lit("alpha beta gamma delta epsilon zeta eta theta"))
          .otherwise(concat_ws(" ",
            (0 until 8).map(j => concat(lit("w"),
              pmod(hash(col("id"), lit(j)), lit(5000)).cast("string"))): _*))
          .as("text"))
      val scored = operators.LmOps.knPerplexity(docs1m, buckets = 1024)
      val sep = scored
        .join(docs1m, "doc_id")
        .select((col("doc_id") % 10 === 9).as("is_rand"), col("nll"))
        .groupBy("is_rand").agg(avg(col("nll")).as("m"), countDistinct(col("nll")).as("dn"))
        .collect().map(r => r.getBoolean(0) -> (r.getDouble(1), r.getLong(2))).toMap
      require(sep(false)._1 < sep(true)._1 - 1.0,
        s"KN failed to separate fluent from random: $sep")
      require(sep(false)._2 == 1L,
        s"identical template docs must share one nll, got ${sep(false)._2}")
    }

    // 10j. Unigram-LM tokenizer training at 1M docs: the word-frequency
    // reduction bounds EM at ~60k distinct words however large the corpus;
    // gate that multi-char pieces EARN the vocabulary (top piece longer
    // than 1 char) and that encoding compresses a sample at least 2×.
    timed("unigram_train_1M_docs") {
      val n = 1000000L
      val docs1m = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 8).map(j => concat(lit("tok"),
          pmod(hash(col("id"), lit(j)), lit(50000)).cast("string"))): _*).as("text"))
      val model = operators.Unigram.train(docs1m, vocabSize = 1000, iters = 2)
      val top = model.orderBy(col("count").desc, col("piece")).limit(1).head()
      require(top.getString(0).length > 1,
        s"top piece should be multi-char, got '${top.getString(0)}'")
      val sample = docs1m.filter(col("doc_id") % 100 === 0)
      val enc = operators.Unigram.encode(sample, model)
      val a = enc.agg(sum(col("n_pieces")), sum(col("n_words"))).head()
      val nChars = sample.agg(sum(length(regexp_replace(col("text"), " ", ""))))
        .head().getLong(0)
      require(a.getLong(0) * 2 <= nChars && a.getLong(0) >= a.getLong(1),
        s"unigram compression gate failed: pieces=${a.getLong(0)} chars=$nChars")
    }

    // 10k. Overlapping chunking at 10M docs with closed-form truth: every
    // doc has 56 tokens → exactly 2 chunks (32/8), chunk 1 spans tokens
    // 25..56 (32 tokens).
    timed("chunk_overlap_10M_docs") {
      val n = 10000000L
      val docs10m = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 56).map(j => lit(s"t$j")): _*).as("text"))
      val a = operators.TextOps.chunk(docs10m, size = 32, overlap = 8)
        .agg(count(lit(1)), sum(col("n_tokens")),
          count(when(col("chunk_id") === 1 && col("n_tokens") === 32, 1))).head()
      require(a.getLong(0) == 2 * n && a.getLong(1) == 64 * n &&
        a.getLong(2) == n,
        s"chunk closed form failed: $a")
    }

    // 11. (big) dual-pol inversion at 150M px — the "100×" of the reference
    // notebook scene (BASELINE.md). Exercises AQE/spill behavior: the scene
    // never collects, the LUT broadcast is scene-size-independent, and the
    // argmin kernel streams partitions, so wall-time should scale ~linearly
    // from target 3 (4.25M px).
    }

    if (on("sketches")) {
      import graft.operators.Sketches

      // S1. HLL distinct at 10M true distincts: the register table is 512
      // rows however big the input; gate the estimate inside ~3σ of the
      // 1.04/sqrt(512) ≈ 4.6% standard error.
      timed("hll_distinct_10M") {
        val n = 10000000L
        val df = spark.range(n).select(concat(lit("v"), col("id")).as("v"))
          .withColumn("g", lit("all"))
        val est = Sketches.hllEstimate(
          Sketches.hllRegisters(df, col("v"), Seq("g")), Seq("g"))
          .head().getDouble(1)
        val relErr = math.abs(est - n) / n
        println(f"[scale] hll est=$est%.0f true=$n relErr=$relErr%.4f")
        require(relErr < 0.15, s"HLL estimate off by $relErr at 10M")
      }

      // S2. CMS heavy hitters over a 10M-token Zipf-ish stream (100k-word
      // vocabulary): cells stay 4×1024 whatever the corpus; gate the CMS
      // guarantees — never under, over by ≤ 1% of the stream mass.
      timed("cms_heavy_hitters_10M_tokens") {
        val total = 10000000L
        val vocab = 100000L
        // word w gets ~ total/(2·rank) occurrences for the head, flat tail:
        // deterministic frequency table, no token explosion needed
        val freq = spark.range(vocab).select(
          concat(lit("w"), col("id")).as("tok"),
          greatest((lit(total / 50L) / (col("id") + 1)).cast("long"), lit(25L)).as("cnt"))
        val mass = freq.agg(sum("cnt")).head().getLong(0)
        val cells = Sketches.cmsCells(freq, col("tok"), col("cnt"))
        val probes = freq.orderBy(col("cnt").desc, col("tok")).limit(20)
        val est = Sketches.cmsEstimate(cells, probes.select("tok"), "tok")
        val joined = probes.join(est, "tok")
          .select(col("tok"), col("cnt"), col("cms_est")).collect()
        joined.foreach { r =>
          val (c, e) = (r.getLong(1), r.getLong(2))
          require(e >= c, s"CMS under-estimated ${r.getString(0)}: $e < $c")
          require(e - c <= mass / 100, s"CMS over by ${e - c} (> 1% of $mass)")
        }
      }

      // S3. Exact quantiles at 10M rows with a closed-form truth: values
      // are a fixed permutation of 0..n-1 (multiplier coprime to n=10^7 and
      // small enough that id·mult never overflows a long), so the value at
      // sorted rank k IS k — gate exact equality, no sort.
      timed("exact_quantiles_10M") {
        val n = 10000000L
        val df = spark.range(n)
          .select(((col("id") * 2654435761L) % n).cast("double").as("x"))
        val qs = Seq(0.01, 0.5, 0.99, 0.9999)
        val got = Sketches.exactQuantiles(df, "x", qs)
          .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
        qs.foreach { q =>
          val want = math.floor(q * (n - 1)).toDouble
          require(got(q) == want, s"quantile $q: got ${got(q)} want $want")
        }
      }

      // S3b. KLL sketch at 10M rows, k=256, forced deep compaction, with
      // the same closed-form permutation truth (value v has true rank v):
      // the native kll_sketch aggregate builds per-partition sketches and
      // merges them at the final agg — O(k·log n) longs ever shuffled —
      // then a per-shard kll_merge rollup over 32 day-shards must land
      // inside the SAME rank-error envelope. Gate: every probed quantile
      // within 2% of n (observed ≤ ~1%; the randomized-KLL theory bound
      // at k=256 is tighter, but the deterministic alternating selector
      // trades a constant for reproducibility — gate what we measure).
      timed("kll_sketch_10M_k256") {
        val n = 10000000L
        val df = spark.range(n)
          .select(((col("id") * 2654435761L) % n).as("v"),
            (col("id") % 32).as("day"))
        val qs = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
        def gate(sk: org.apache.spark.sql.DataFrame, tag: String): Unit = {
          val got = operators.Kll.quantilesFromSketch(
            sk.withColumn("g", lit(1)), Seq("g"), "sk", qs)
            .collect().map(r => r.getDouble(1) -> r.getLong(2)).toMap
          qs.foreach { q =>
            val want = math.floor(q * (n - 1)).toLong
            val err = math.abs(got(q) - want)
            require(err <= 0.02 * n,
              s"$tag q=$q got=${got(q)} want=$want err=$err (> 2% of $n)")
          }
        }
        gate(df.agg(expr("kll_sketch(v, 256)").as("sk")), "direct")
        gate(df.groupBy("day").agg(expr("kll_sketch(v, 256)").as("sk"))
          .agg(expr("kll_merge(sk)").as("sk")), "rollup")
      }

      // S3c. Exact heavy hitters at 10M tokens / 8M-distinct vocabulary,
      // closed form: h0..h9 planted at 200k each (2%), 8M singleton tail.
      // The Misra–Gries prune keeps candidates ≤ partitions·(k−1) — the
      // vocabulary-wide groupBy this replaces would shuffle 8M rows to
      // find 10 — and the exact recount must return exactly h0..h9 at
      // exactly 200000 each (k=100 ⇒ strict threshold 100k).
      timed("exact_heavy_hitters_10M_8M_vocab") {
        val toks = spark.range(10000000L).select(
          when(col("id") < 2000000L, concat(lit("h"), (col("id") % 10).cast("string")))
            .otherwise(concat(lit("t"), col("id").cast("string"))).as("tok"))
        val got = operators.Sketches.exactHeavyHitters(toks, "tok", k = 100)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        require(got.size == 10 && (0 until 10).forall(i => got(s"h$i") == 200000L),
          s"heavy-hitter closed form failed: $got")
      }

      // S4. One-pass numeric profile at 10M rows × 3 columns with
      // closed-form truth: a (nullable cycling values, a permutation, a
      // constant) — null counts, cardinalities, ranges and the exact
      // integer-space mean all asserted equal. Exercises the split
      // plain/distinct pass shape (the single-agg spelling evaluated
      // every plain aggregate on the Expand-multiplied rows).
      timed("data_profile_10M") {
        val n = 10000000L
        val df = spark.range(n).select(
          when(col("id") % 10 === 0, lit(null).cast("double"))
            .otherwise((col("id") % 100).cast("double")).as("a"),
          // ÷100 keeps the 2-decimal money shape Profile documents (the
          // exact-mean micro-division needs Σ·100·20000 within a long)
          (((col("id") * 2654435761L) % n).cast("double") / 100.0).as("b"),
          lit(7.5).as("c"))
        val got = graft.operators.Profile.numeric(df, Seq("a", "b", "c"))
          .collect().map(r => r.getString(0) -> r).toMap
        val a = got("a")
        require(a.getAs[Long]("n_null") == n / 10 &&
          a.getAs[Long]("n_distinct") == 90 && // multiples of 10 are null
          a.getAs[Double]("min_v") == 1.0 && a.getAs[Double]("max_v") == 99.0,
          s"profile(a) wrong: $a")
        val b = got("b")
        require(b.getAs[Long]("n_null") == 0 &&
          b.getAs[Long]("n_distinct") == n &&
          b.getAs[Double]("max_v") == (n - 1).toDouble / 100.0, s"profile(b) wrong: $b")
        val c = got("c")
        require(c.getAs[Long]("n_distinct") == 1 &&
          c.getAs[Double]("mean_v") == 7.5, s"profile(c) wrong: $c")
      }
    }

    if (on("sketches")) {
      // S-hh. Streaming heavy hitters at 10M tokens over 4 micro-batches
      // (the MERGEABLE Misra–Gries property at scale): per batch of 2.5M
      // rows, 'hot' is 24% of the stream, 'warm' 2% (both > 1/64), 'cool'
      // ~1.5% (just below), tail unique. Gates: the merged candidate set
      // covers every true hitter (the pigeonhole superset promise), 'hot'
      // is flagged guaranteed from the lower bound alone, the window total
      // is exact, and the per-batch store stays O(k).
      timed("heavy_hitters_stream_10M_tokens") {
        val dir = java.nio.file.Files.createTempDirectory("hhscale").toString
        val k = 64
        (0 until 4).foreach { b =>
          val batch = spark.range(2500000L).select(
            when(col("id") % 25 < 6, lit("hot"))
              .when(col("id") % 50 === 6, lit("warm"))
              .when(col("id") % 66 === 7, lit("cool"))
              .otherwise(concat(lit(s"t${b}_"), col("id").cast("string")))
              .as("tok"))
          graft.streaming.Streaming.processHeavyHittersBatch(batch, b.toLong,
            s"$dir/out", s"$dir/store", "tok", k)
        }
        val last = spark.read.parquet(s"$dir/out/batch_id=3")
          .collect().map(r => r.getAs[String]("tok") ->
            (r.getAs[Long]("cnt_lb"), r.getAs[Long]("n_total"),
              r.getAs[Boolean]("guaranteed"))).toMap
        val nTotal = last.values.head._2
        require(nTotal == 10000000L, s"window total $nTotal != 10M")
        require(last.contains("hot") && last.contains("warm"),
          s"candidate set lost a true hitter: ${last.keySet.filter(_.length < 6)}")
        require(last("hot")._3, s"hot not guaranteed: ${last("hot")}")
        require(last("hot")._1 <= 2400000L && last("warm")._1 <= 200000L,
          "lower bounds exceeded true counts")
        val storeRows = spark.read.parquet(s"$dir/store/mg").count()
        require(storeRows <= 4L * k, s"store holds $storeRows rows — not O(k)")
        println(s"[scale] heavy_hitters_stream candidates: ${last.size}, " +
          s"hot lb ${last("hot")._1}/2400000, warm lb ${last("warm")._1}/200000")
      }
    }

    if (on("events")) {
      import graft.operators.{Delta, Funnel}

      // E1. Ordered funnel at 10M events / 100k users with a closed-form
      // truth: user u emits 100 events at ts = u·1000 + k, type cycling
      // view/click/purchase by k % 3 — every user completes with
      // t = (u·1000, u·1000+1, u·1000+2). Gate exact aggregate equality
      // (sums + completion count), never a 100k-row collect.
      timed("funnel_10M_events") {
        val users = 100000L
        val ev = spark.range(users * 100).select(
          (col("id") / 100).cast("long").as("user_id"),
          ((col("id") / 100).cast("long") * 1000 + col("id") % 100).as("ts"),
          element_at(array(lit("view"), lit("click"), lit("purchase")),
            (col("id") % 100 % 3).cast("int") + 1).as("event_type"))
        val f = Funnel.steps(ev, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))
        val a = f.agg(
          count(lit(1)).as("n"),
          sum(when(col("t_purchase").isNotNull, 1L).otherwise(0L)).as("done"),
          sum(col("t_view")).as("sv"), sum(col("t_click")).as("sc"),
          sum(col("t_purchase")).as("sp")).head()
        val sumU = users * (users - 1) / 2 * 1000L
        require(a.getLong(0) == users && a.getLong(1) == users, s"funnel: $a")
        require(a.getLong(2) == sumU && a.getLong(3) == sumU + users &&
          a.getLong(4) == sumU + 2 * users, s"funnel sums: $a")
      }

      // E1b. Interval-overlap join at 1M × 10M with closed-form truth:
      // left i = [1000i, 1000i+500), right j = [100j, 100j+50) → right j
      // overlaps left i iff 10i ≤ j ≤ 10i+4: exactly 5 per left, 5M
      // total, id-sum closed-form. bucketWidth 300 makes every LEFT
      // interval span 2-3 buckets, so the canonical-bucket single
      // emission (no dedup shuffle) is what keeps the count exact.
      timed("interval_overlap_1M_x_10M") {
        val nL = 1000000L
        val left = spark.range(nL).select(col("id").as("l_id"),
          (col("id") * 1000).as("ls"), (col("id") * 1000 + 500).as("le"))
        val right = spark.range(nL * 10).select(col("id").as("r_id"),
          (col("id") * 100).as("rs"), (col("id") * 100 + 50).as("re"))
        val j = operators.RangeJoin.intervalOverlap(left, right,
          "ls", "le", "rs", "re", bucketWidth = 300L)
        val a = j.agg(count(lit(1)).as("n"), sum(col("r_id")).as("rsum")).head()
        // Σ_i Σ_{k=0..4} (10i+k) = Σ_i (50i + 10) = 50·nL(nL−1)/2 + 10·nL
        val wantSum = 50L * nL * (nL - 1) / 2 + 10L * nL
        require(a.getLong(0) == 5L * nL && a.getLong(1) == wantSum,
          s"interval overlap drifted: n=${a.getLong(0)} rsum=${a.getLong(1)} " +
            s"want n=${5L * nL} rsum=$wantSum")
      }

      // E2. Latest-wins compaction at 10M events: the survivor per user is
      // closed-form (ts = u·1000 + 99) — gate count and exact ts-sum.
      timed("latest_wins_10M_events") {
        val users = 100000L
        val ev = spark.range(users * 100).select(
          (col("id") / 100).cast("long").as("user_id"),
          ((col("id") / 100).cast("long") * 1000 + col("id") % 100).as("ts"),
          col("id").as("event_id"))
        val a = Delta.latestWins(ev, "user_id", "ts", "event_id")
          .agg(count(lit(1)).as("n"), sum(col("ts")).as("s")).head()
        require(a.getLong(0) == users, s"latestWins rows: $a")
        require(a.getLong(1) == users * (users - 1) / 2 * 1000L + 99L * users,
          s"latestWins ts sum: $a")
      }

      // E3. Cohort retention at 3M user-day events: 300k users in 30
      // cohorts (cohort day = u % 30), each active 10 consecutive days —
      // the rollup must be exactly 30 cohorts × 10 offsets × 10k users.
      timed("cohort_retention_3M_events") {
        val users = 300000L
        val ev = spark.range(users * 10).select(
          (col("id") / 10).cast("long").as("user_id"),
          ((col("id") / 10).cast("long") % 30 + col("id") % 10).as("day"))
        val cohorts = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
        val ret = ev.join(cohorts, "user_id")
          .groupBy(col("cohort_day"),
            (col("day") - col("cohort_day")).as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
        val a = ret.agg(count(lit(1)).as("cells"),
          min(col("n_users")).as("lo"), max(col("n_users")).as("hi")).head()
        require(a.getLong(0) == 300L && a.getLong(1) == 10000L &&
          a.getLong(2) == 10000L, s"cohort cells: $a")
      }

      // E4. SCD2 history at 10M change events / 100k users with closed-form
      // truth: user u emits 100 events at ts = k, value switching every 10
      // events with duplicate deliveries inside each run → exactly 10
      // versions per user, valid_from = 10·j, one open version each.
      // E5. Hourly gap-fill at 10M events / 500k users with closed-form
      // truth: each user emits 20 events at 2-hour spacing starting on an
      // hour boundary with value k → 39 hourly grid rows per user whose
      // forward-filled values sum to exactly 361.
      timed("gap_fill_10M_events") {
        val users = 500000L
        val H = 3600L * 1000000000L
        val base = 500000L * H
        val ev = spark.range(users * 20).select(
          (col("id") / 20).cast("long").as("user_id"),
          (lit(base) + (col("id") % 20) * lit(2 * H)).as("ts"),
          col("id").as("event_id"),
          (col("id") % 20).cast("double").as("value"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)
        val e1 = ev.withColumn("__rn",
            org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        val grid = e1.groupBy(col("user_id"))
          .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
          .select(col("user_id"),
            explode(sequence(expr(s"(lo + ${H - 1}L) div ${H}L"),
              expr(s"hi div ${H}L"))).as("h"))
          .select(col("user_id"), (col("h") * H).as("ts"))
        val filled = operators.AsOfJoin.asOf(grid,
          e1.select(col("user_id"), col("ts"), col("event_id"), col("value")),
          "user_id", "ts", "event_id", Seq("value"))
        val a = filled.agg(count(lit(1)), sum(col("asof_value"))).head()
        require(a.getLong(0) == users * 39 &&
          a.getDouble(1) == users * 361.0,
          s"gap-fill closed form failed: $a")
      }

      // Skew-safe as-of: one key holds 10M of the 11M rows (per side). The
      // plain path funnels the hot key's 20M union rows through ONE window
      // task; the bucketed mode splits it across ~10k (key, ts-bucket)
      // groups and reconciles cross-bucket matches via the summary carry.
      // Gate: both paths hit the closed form AND bucketed beats plain.
      timed("asof_hotkey_11M_skew") {
        val hotN = 10000000L
        val coldKeys = 100L
        val coldN = 10000L
        // left at even ts, right at odd ts=2j+1 with v=j — the backward
        // match of left ts=2i is v=i-1 (none for i=0), so per key of n
        // rows: n-1 matches summing to (n-1)(n-2)/2
        val left = spark.range(hotN).select(lit(0L).as("k"), (col("id") * 2).as("ts"))
          .unionByName(spark.range(coldKeys * coldN).select(
            (col("id") / coldN + 1).cast("long").as("k"),
            ((col("id") % coldN) * 2).as("ts")))
        val right = spark.range(hotN).select(lit(0L).as("k"),
            (col("id") * 2 + 1).as("ts"), col("id").as("rid"),
            col("id").cast("double").as("v"))
          .unionByName(spark.range(coldKeys * coldN).select(
            (col("id") / coldN + 1).cast("long").as("k"),
            ((col("id") % coldN) * 2 + 1).as("ts"), col("id").as("rid"),
            (col("id") % coldN).cast("double").as("v")))
        val wantCount = (hotN - 1) + coldKeys * (coldN - 1)
        val wantSum = (hotN - 1) * (hotN - 2) / 2.0 +
          coldKeys * ((coldN - 1) * (coldN - 2) / 2.0)
        def run(width: Long): (Double, Long, Double) = {
          val t0 = System.nanoTime()
          val a = operators.AsOfJoin.asOfDirected(left, right, "k", "ts", "rid",
              Seq("v"), direction = "backward", bucketWidth = width)
            .agg(count(col("asof_v")), sum(col("asof_v"))).head()
          ((System.nanoTime() - t0) / 1e9, a.getLong(0), a.getDouble(1))
        }
        val (tPlain, cP, sP) = run(0L)
        val (tBkt, cB, sB) = run(2048L) // hot ts span 20M → ~10k buckets
        println(f"[scale] asof_hotkey: plain $tPlain%.2f s vs bucketed $tBkt%.2f s " +
          f"(hot key $hotN of ${hotN + coldKeys * coldN} rows/side)")
        require(cP == wantCount && sP == wantSum, s"plain closed form: $cP/$sP")
        require(cB == wantCount && sB == wantSum, s"bucketed closed form: $cB/$sB")
        require(tBkt < tPlain,
          f"bucketed ($tBkt%.2f s) must beat the one-task plain window ($tPlain%.2f s)")
      }

      timed("scd2_10M_events") {
        val users = 100000L
        val ev = spark.range(users * 100).select(
          (col("id") / 100).cast("long").as("user_id"),
          (col("id") % 100).as("ts"),
          col("id").as("event_id"),
          concat(lit("v"), ((col("id") % 100) / 10).cast("int")).as("value"))
        val hist = Delta.scd2(ev, "user_id", "ts", "event_id", "value")
        val a = hist.agg(count(lit(1)),
          count(when(col("is_current"), 1)),
          sum(col("valid_from")),
          sum(coalesce(col("valid_to"), lit(0L)))).head()
        // per user: versions at 0,10,…,90 (sum 450); valid_to 10,…,90,null (sum 450)
        require(a.getLong(0) == users * 10 && a.getLong(1) == users &&
          a.getLong(2) == users * 450 && a.getLong(3) == users * 450,
          s"scd2 closed form failed: $a")
      }
    }

    if (on("media")) {
      // M1. WebDataset tar shards at 1M members (500k samples × 2): write
      // per-partition shards, header-only index, member-parallel read —
      // exact id/byte conservation required.
      timed("tar_roundtrip_1000k_members") {
        val dir = java.nio.file.Files.createTempDirectory("graft_tar_scale").toString
        val n = 500000L
        val docs = spark.range(n).select(col("id").cast("string").as("key"),
          lit("txt").as("ext"),
          encode(concat(lit("sample body "), col("id").cast("string")), "UTF-8").as("bytes"))
        val meta = spark.range(n).select(col("id").cast("string").as("key"),
          lit("json").as("ext"),
          encode(concat(lit("{\"id\":"), col("id").cast("string"), lit("}")), "UTF-8").as("bytes"))
        sources.TarIO.writeShards(docs.unionAll(meta).repartition(32), dir)
        val back = sources.TarIO.samples(sources.TarIO.readShardsFanout(spark, dir))
        val row = back.agg(count(lit(1)), sum(col("key").cast("long")),
          sum(size(col("exts")))).head()
        require(row.getLong(0) == n && row.getLong(1) == n * (n - 1) / 2 &&
          row.getLong(2) == 2 * n,
          s"tar roundtrip lost members: $row")
        // M1b. the same shards through the wds DataSource V2 with BOTH
        // pushdowns live: ext filter at the member index + bytes-free
        // projection → header-only census; sizes reconcile exactly
        timed("wds_dsv2_census_1000k_members") {
          val census = spark.read.format("wds").load(dir)
            .filter(col("ext") === "txt")
            .agg(count(lit(1)), sum(col("size")),
              sum(col("key").cast("long"))).head()
          val expBytes = docs.agg(sum(length(decode(col("bytes"), "UTF-8")))).head().getLong(0)
          require(census.getLong(0) == n && census.getLong(1) == expBytes &&
            census.getLong(2) == n * (n - 1) / 2,
            s"wds census mismatch: $census want n=$n bytes=$expBytes")
        }
        scala.util.Try(org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir)))
        ()
      }

      // M1c. pHash at 1M images: the fixed-point DCT kernel is pure
      // map-side Long math (~10k multiplies/image). Gates: every hash
      // respects the ≤31-bit median bound (a >31 popcount means the
      // order-statistic threshold broke) and the hash discriminates —
      // ≥90% distinct values over byte-diverse synthetic images.
      timed("phash_1M_images") {
        import spark.implicits._
        val n = 1000000L
        val imgs = spark.range(n).map { id =>
          // per-pixel avalanche mix: a quasi-linear (id·C + i·D) pattern
          // shares its LOW-FREQUENCY structure across ids and collapsed
          // to 1268 distinct hashes at 1M — pHash correctly identified
          // those images as perceptually alike; this gate needs images
          // whose low frequencies actually differ
          operators.Multimodal.MediaRow(id, "gray",
            Array.tabulate(1024) { i =>
              val m = (id * 2654435761L ^ (i.toLong * 40503L + 9973L)) *
                1099511628211L
              ((m >>> 24) % 251).toByte
            }, 32, 32)
        }
        val h = operators.Multimodal.pHash64(imgs)
        val a = h.agg(count(lit(1)).as("n"),
          max(expr("bit_count(phash)")).as("maxbits"),
          countDistinct(col("phash")).as("nd")).head()
        require(a.getLong(0) == n && a.getInt(1) <= 31 &&
          a.getLong(2) >= (n * 9) / 10,
          s"phash gate: n=${a.getLong(0)} maxbits=${a.get(1)} distinct=${a.getLong(2)}")
      }

      // M2. Video frame sampling at 50k clips × 6 frames: assemble real
      // MJPEG AVIs, sample stride 3 via idx1 (2 of 6 frames decoded), and
      // require the exact sampled frame set + valid DC decodes.
      timed("video_frame_sample_50k_clips") {
        val clips = 50000L
        val frames = spark.range(clips * 6).select(
          (col("id") / 6).cast("long").as("video_id"),
          (col("id") % 6).cast("int").as("frame_no"))
          .as[(Long, Int)]
          .map { case (vid, k) =>
            (vid, k, graft.sources.Jpeg.encodeGray(16, 16,
              Array.tabulate(256)(i => ((i + k * 10 + vid).toInt % 200).toByte)))
          }.toDF("video_id", "frame_no", "jpeg")
        val vids = operators.Video.mjpegAssemble(frames, 16, 16)
        val dc = operators.Video.sampleDcMeans(vids, stride = 3)
        val a = dc.agg(count(lit(1)), countDistinct(col("video_id")),
          sum(col("frame_no"))).head()
        // 2 sampled frames × 4 blocks per clip; frame_no sum = clips·(0+3)·4
        require(a.getLong(0) == clips * 8 && a.getLong(1) == clips &&
          a.getLong(2) == clips * 12,
          s"video sampling wrong shape: $a")
      }

      // M3. WAV 4/3 resample at 500k clips with a closed-form check: a
      // constant-signal clip resamples to the same constant, so the global
      // sum is exactly (value × n_out) summed over clips.
      timed("wav_resample_500k_clips") {
        val clips = 500000L
        // 40 constant samples of value (id % 200 + 1) as LE int16 bytes
        val media = spark.range(clips).as[Long].map { id =>
          val v = (id % 200 + 1).toInt
          val b = new Array[Byte](80)
          var i = 0
          while (i < 40) { b(2 * i) = (v & 0xff).toByte; b(2 * i + 1) = 0; i += 1 }
          operators.Multimodal.MediaRow(id, "pcm", b, 0, 0)
        }
        val stats = operators.Audio.resampleStats(
          operators.Audio.wavEncode(media, 4000), num = 4, den = 3)
        val a = stats.agg(count(lit(1)), sum(col("n_out")),
          sum(col("sum_out") - col("n_out") * (col("media_id") % 200 + 1))).head()
        // n=40 samples → n_out = 39*4/3+1 = 53; constant clips: every output
        // sample equals the input value exactly
        require(a.getLong(0) == clips && a.getLong(1) == clips * 53 &&
          a.getLong(2) == 0L,
          s"wav resample closed form failed: $a")
      }
    }

    if (on("graph")) {
      // G1. Triangles at 1M nodes with closed-form truth: nodes group in
      // triples (3k, 3k+1, 3k+2) each forming one triangle (333k
      // triangles, every node in exactly 1), plus a 50k-leaf star hub
      // (the skew shape the degree orientation exists for — 0 triangles).
      // G0. PageRank above the adaptive small-graph cutover: 2M edges run
      // the DISTRIBUTED recurrence (the ≤1M path is bit-equality-gated in
      // GraphOpsSpec). Gates: integer mass never exceeds Scale (division
      // truncation only loses), ≥90% of it survives 4 iterations, and
      // hub nodes outrank dangling ones.
      timed("pagerank_2M_edges_distributed") {
        val nn = 1000000L
        val nodes = spark.range(nn).select(col("id").as("node"))
        val edges = spark.range(nn).select(col("id").as("src"),
            ((col("id") * 31 + 7) % nn).as("dst"))
          .unionAll(spark.range(nn).select(col("id").as("src"),
            (col("id") % 1000).as("dst"))) // 1000 hub targets
          .filter(col("src") =!= col("dst"))
        val pr = operators.GraphOps.pageRank(nodes, edges, iters = 4)
        val a = pr.agg(sum(col("pr_micro")),
          avg(when(col("node") < 1000, col("pr_micro"))),
          avg(when(col("node") >= 1000, col("pr_micro")))).head()
        require(a.getLong(0) <= operators.GraphOps.Scale &&
          a.getLong(0) >= operators.GraphOps.Scale * 9 / 10,
          s"pagerank mass off: ${a.getLong(0)}")
        require(a.getDouble(1) > 10 * a.getDouble(2),
          s"hub nodes must far outrank the rest on average: " +
            s"hubAvg=${a.getDouble(1)} restAvg=${a.getDouble(2)}")
      }

      // G1b. Personalized PageRank above the cutover: same 2M-edge graph,
      // every 100th node a seed. Gates: mass stays within Scale and ≥90%
      // survives truncation; seed nodes out-average non-seeds (the
      // teleport bias that IS personalization).
      timed("personalized_pr_2M_edges_distributed") {
        val nn = 1000000L
        val nodes = spark.range(nn).select(col("id").as("node"))
        val edges = spark.range(nn).select(col("id").as("src"),
            ((col("id") * 31 + 7) % nn).as("dst"))
          .unionAll(spark.range(nn).select(col("id").as("src"),
            (col("id") % 1000).as("dst")))
          .filter(col("src") =!= col("dst"))
        val seeds = spark.range(0, nn, 100).select(col("id").as("node"))
        val ppr = operators.GraphOps.personalizedPageRank(nodes, edges, seeds,
          iters = 4, smallGraphThreshold = 0)
        val a = ppr.agg(sum(col("ppr_micro")),
          avg(when(col("node") % 100 === 0, col("ppr_micro"))),
          avg(when(col("node") % 100 =!= 0, col("ppr_micro")))).head()
        require(a.getLong(0) <= operators.GraphOps.Scale &&
          a.getLong(0) >= operators.GraphOps.Scale * 9 / 10,
          s"ppr mass off: ${a.getLong(0)}")
        require(a.getDouble(1) > a.getDouble(2),
          s"seeds must out-average non-seeds: ${a.getDouble(1)} vs ${a.getDouble(2)}")
      }

      // G2. Label propagation above the small-graph cutover: 1M nodes in
      // 200k disjoint 5-cliques (4M directed edges → distributed path; the
      // ≤1M path is bit-equality-gated in GraphOpsSpec). A clique has
      // diameter 1 and all-distinct initial labels, so round 1 is a
      // 5-way vote tie at every node → smallest label wins everywhere:
      // EXACT convergence to the clique minimum, closed form.
      timed("label_prop_1M_nodes_4M_edges") {
        val nn = 1000000L
        val nodes = spark.range(nn).select(col("id").as("node"))
        val edges = spark.range(nn).select(col("id"))
          .crossJoin(spark.range(1, 5).select(col("id").as("k")))
          .select(col("id").as("src"),
            ((col("id") - col("id") % 5) + (col("id") % 5 + col("k")) % 5).as("dst"))
        val lab = operators.GraphOps.labelPropagation(nodes, edges, iters = 2)
        val bad = lab.filter(col("label") =!= col("node") - col("node") % 5).count()
        require(bad == 0L, s"$bad nodes off their clique-min label")
      }

      timed("triangles_1M_nodes_closed_form") {
        val triples = 333333L
        val triEdges = spark.range(triples).select(col("id")).selectExpr(
          "stack(3, id*3, id*3+1, id*3+1, id*3+2, id*3, id*3+2) AS (src, dst)")
        val hub = 2000000L
        val starEdges = spark.range(50000).select(lit(hub).as("src"),
          (col("id") + 3000000L).as("dst"))
        val nodes = spark.range(triples * 3).select(col("id").as("node"))
          .unionAll(spark.range(50000).select((col("id") + 3000000L).as("node")))
          .unionAll(spark.range(1).select(lit(hub).as("node")))
        val got = operators.GraphOps.triangleCounts(nodes,
          triEdges.unionAll(starEdges))
        val a = got.agg(sum(col("n_triangles")),
          count(when(col("n_triangles") === 1, 1)),
          count(when(col("n_triangles") === 0, 1))).head()
        require(a.getLong(0) == triples * 3 && a.getLong(1) == triples * 3 &&
          a.getLong(2) == 50001L,
          s"triangle closed form failed: $a")
      }
    }

    if (on("layout")) {
      // L1. Z-order at 4M rows / 64 files: a 1/16-wide box on the SECOND
      // dimension must intersect at most a quarter of the z-ordered files
      // (a linear-by-x layout intersects all of them).
      timed("zorder_skipping_4M_rows") {
        val base = java.nio.file.Files.createTempDirectory("graft_z_scale").toString
        val side = 2048
        val grid = spark.range(side.toLong * side).select(
          (col("id") % side).cast("int").as("x"),
          (col("id") / side).cast("int").as("y"))
        operators.ZOrder.clusterWrite(grid, s"$base/z", Seq("x", "y"),
          bits = 11, files = 64)
        val files = new java.io.File(s"$base/z").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
        val (yLo, yHi) = (256, 383)
        val hit = files.count { f =>
          val r = spark.read.parquet(f).agg(min(col("y")), max(col("y"))).head()
          r.getInt(0) <= yHi && r.getInt(1) >= yLo
        }
        require(files.size >= 48 && hit <= files.size / 4,
          s"z-order skipping too weak: $hit/${files.size} files intersect")
        scala.util.Try(org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base)))
        ()
      }

      // 11b. Bloom-pruned join at 10M facts × 10k build keys (0.1% key
      // selectivity): the probe side must thin to ~true-match rate before
      // its shuffle (bounded fpp), and the join result must equal the
      // plain join's closed form exactly — bloom = shuffle reducer, never
      // a correctness dependency.
      timed("bloom_join_10M_facts") {
        val nFacts = 10000000L
        val keySpace = 1000000L
        val facts10m = spark.range(nFacts)
          .select(col("id").as("fid"), (col("id") % keySpace).as("fk"))
        val build = spark.range(0, keySpace, 100)
          .select(col("id").as("dk")) // 10k keys, every 100th
        val bf = operators.BloomJoin.buildFilter(build, "dk",
          estItems = 10000, numBits = 1 << 20)
        val kept = facts10m
          .where(operators.BloomJoin.mightContain(bf, col("fk"))).count()
        // true matches: fk % 100 == 0 → nFacts/100; fpp ≈ 1e-4 at these
        // sizes — allow up to 3% of the probe side surviving
        val trueMatches = nFacts / 100
        require(kept >= trueMatches && kept <= nFacts * 3 / 100,
          s"bloom kept $kept of $nFacts (want ~$trueMatches)")
        val joined = operators.BloomJoin
          .bloomPrunedJoin(facts10m, build.hint("shuffle_hash"), "fk", "dk",
            estItems = 10000, numBits = 1 << 20)
          .agg(count(lit(1)), sum(col("fid"))).head()
        // each build key k matches fids {k, k+1M, ..., k+9M}: 10 rows/key
        val nPairs = 10000L * 10
        // sum over k in {0,100,...,999900} of Σ_{j<10}(k + j*1M)
        val sumFid = (0L until keySpace by 100)
          .map(k => 10 * k + (0L until 10).map(_ * keySpace).sum).sum
        require(joined.getLong(0) == nPairs && joined.getLong(1) == sumFid,
          s"bloom join diverged from closed form: $joined want ($nPairs, $sumFid)")
      }
    }

    if (on("eval")) {
      // V1. Pareto front at 10M points / 1000 groups, closed form: per
      // group, 100 anti-correlated frontier points (x + y = 199, distinct
      // x) and 9900 points strictly below their same-x frontier point.
      // The sweep must return EXACTLY the 100k frontier rows.
      timed("pareto_front_10M_1000_groups") {
        val pts = spark.range(10000000L).select(
          (col("id") % 1000).as("g"),
          col("id").as("pid"),
          expr("(id DIV 1000) % 100").as("x"),
          expr("""CASE WHEN id DIV 1000 < 100 THEN 199 - (id DIV 1000) % 100
                  ELSE 199 - (id DIV 1000) % 100 - 1 - ((id DIV 100000) % 37)
                  END""").as("y"))
        val front = operators.Skyline.paretoFront2D(pts, Seq("g"), "x", "y")
        val a = front.agg(count(lit(1)),
          count(when(col("x") + col("y") =!= 199L, 1))).head()
        require(a.getLong(0) == 100000L && a.getLong(1) == 0L,
          s"pareto front off closed form: $a (want 100000 rows, all x+y=199)")
      }

      // V2. MAD outliers at 10M rows / 1000 keys, closed form: per key,
      // values 0..9989 plus 10 spikes at 1e6+j. Even-count medians:
      // med2 = 4999+5000 = 9999; the dev2 multiset makes mad4 = 10000;
      // flag ⇔ dev2 > 15000 ⇔ exactly the 10 spikes per key.
      timed("mad_outliers_10M_1000_keys") {
        val rows = spark.range(10000000L).select(
          (col("id") % 1000).as("k"), col("id").as("rid"),
          expr("""CASE WHEN id DIV 1000 < 9990 THEN id DIV 1000
                  ELSE 1000000 + id DIV 1000 END""").as("v"))
        val out = operators.Profile.madOutliers(rows, "k", "rid", "v")
        val a = out.agg(
          count(when(col("is_outlier"), 1)),
          count(when(col("is_outlier") && col("v") < 1000000L, 1)),
          count(when(col("med2") =!= 9999L || col("mad4") =!= 10000L, 1))).head()
        require(a.getLong(0) == 10000L && a.getLong(1) == 0L && a.getLong(2) == 0L,
          s"MAD closed form failed: $a (want 10000 spike flags, exact med2/mad4)")
      }

      // V4. Collocations at 10M docs, closed form: even docs say "a b",
      // odd say "a c", every 1000th (all even) adds "d". Doc counts:
      // a=10M, b=5M, c=5M, d=10k; pair counts ab=ac=5M, ad=bd=10k.
      // Lifts: ab=ac=ad = 1e6 exactly, bd = 2e6 — so d's TOP partner is
      // the 500×-rarer b, proving the lift ranking beats raw frequency.
      timed("collocations_10M_docs_closed_form") {
        val docs = spark.range(10000000L).select(col("id").as("doc_id"),
          concat(lit("a "),
            when(col("id") % 2 === 0, "b").otherwise("c"),
            when(col("id") % 1000 === 0, " d").otherwise("")).as("text"))
        val got = operators.TextOps.collocations(docs, minSupport = 5, k = 3)
          .collect().map(r => (r.getString(0), r.getString(1)) ->
            (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
        require(got(("d", "b")) == ((10000L, 2000000L, 1L)),
          s"d's top partner must be b at lift 2.0: ${got.filter(_._1._1 == "d")}")
        require(got(("b", "d"))._2 == 2000000L && got(("b", "d"))._3 == 1L,
          s"b's top partner must be d: ${got.filter(_._1._1 == "b")}")
        require(got(("a", "b")) == ((5000000L, 1000000L, 1L)) &&
          got(("a", "c")) == ((5000000L, 1000000L, 2L)),
          s"a's partners off closed form: ${got.filter(_._1._1 == "a")}")
      }

      // V3. ROUGE-2 at 1M pairs, closed form: 20 distinct tokens per doc,
      // candidate drops indices ≡ 0 mod 3 (7 of 20) → 12 cand bigrams, 19
      // ref bigrams, and exactly 6 bigrams whose both tokens were ref-
      // adjacent survive. P = 500000, R = 6e6 // 19 = 315789 for EVERY doc.
      timed("rouge2_1M_pairs_map_only") {
        val docs = spark.range(1000000L).select(col("id"),
          concat_ws(" ", (0 until 20).map(i =>
            concat(lit("w"), (col("id") + i) % 26)): _*).as("ref"))
        val pairs = docs.withColumn("cand",
          concat_ws(" ", filter(split(col("ref"), " "), (_, i) => i % 3 =!= 0)))
        val m = operators.LmOps.rougeN(pairs, "cand", "ref", n = 2)
        val a = m.agg(
          count(when(col("precision_micro") =!= 500000L, 1)),
          count(when(col("recall_micro") =!= 315789L, 1)),
          count(when(col("n_overlap") =!= 6L, 1))).head()
        require(a.getLong(0) == 0L && a.getLong(1) == 0L && a.getLong(2) == 0L,
          s"ROUGE closed form failed: $a")
      }
    }

    if (big && on("scene")) {
      val (bL, bS) = (10000, 15000)
      val bigScene = spark.range(bL.toLong * bS)
        .select(
          (col("id") / bS).cast("int").as("line"),
          (col("id") % bS).cast("int").as("sample"))
        .withColumn("incidence", lit(16.0) + lit(34.0) * col("sample") / lit(bS - 1.0))
        .withColumn("wspd_t", lit(4.0) + (col("line") % 40) * lit(0.7))
        .withColumn("phi_t", (col("sample") % 360) * lit(0.5))
      timed(s"dualpol_inversion_${bL}x$bS", cellsPerPixel(bL.toLong * bS)) {
        val luts = Inversion.buildLuts(spark, Some("gmf_cmod5n"), Some("gmf_s1_v2"), highRes = false)
        val px = bigScene.select(
          col("line").cast("long").as("okey"), col("sample").cast("long").as("lnum"),
          col("incidence").as("inc"),
          Directions.toDb(GmfColumns.cmod5n(col("incidence"), col("wspd_t"), col("phi_t"))).as("s0co_db"),
          Directions.toDb(GmfColumns.s1V2(col("incidence"), col("wspd_t"))).as("s0cr_db"),
          lit(0.1).as("dsig_cr"),
          (col("wspd_t") * cos(radians(col("phi_t")))).as("anc_re"),
          (col("wspd_t") * sin(radians(col("phi_t")))).as("anc_im"))
        Inversion.invert(px, luts).write.format("noop").mode("overwrite").save()
      }

      // 12. (big) OWI scene ingest at 38.25M px × 10 variables: the fixture
      // is STREAM-written row-by-row (f32, ~1.5 GB) and the ingest is
      // verified in-pass against the generator formula. Driver work is the
      // few-KB header parse; executors read their own byte ranges — heap
      // stays flat however many variables the scene carries.
      val (inL, inS) = (5100, 7500)
      val ncPath = java.nio.file.Files.createTempDirectory("bigowi").toString + "/owi_big.nc"
      timed(s"scene_fixture_stream_write_${inL}x$inS") {
        import graft.sources.Nc3
        import graft.sources.Nc3._
        val dims = Seq(Dim("owiAzSize", inL), Dim("owiRaSize", inS))
        val vars = (0 until 10).map(i =>
          Var(s"owiVar$i", Seq(0, 1), Nil, NcFloat, Array.emptyDoubleArray))
        val (hdr, _) = Nc3.headerAndOffsets(dims, Nil, vars)
        val out = new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(ncPath), 1 << 20)
        out.write(hdr)
        val row = java.nio.ByteBuffer.allocate(inS * 4) // big-endian XDR
        for (i <- 0 until 10; l <- 0 until inL) {
          row.clear()
          var s = 0
          while (s < inS) { row.putFloat(((l * 7 + s * 3 + i) % 1000).toFloat); s += 1 }
          out.write(row.array())
        }
        out.close()
      }
      timed(s"scene_ingest_${inL}x${inS}_x10vars") {
        val df = graft.sources.SceneIngest.readOwi(spark, ncPath)
        val maxErr = df.select(greatest((0 until 10).map(i =>
            abs(col(s"owiVar$i") - pmod(col("line") * 7 + col("sample") * 3 + lit(i), lit(1000)))): _*)
          .as("e")).agg(max(col("e"))).head().getDouble(0)
        require(maxErr == 0.0, s"scene ingest mismatch: max abs err $maxErr")
      }

      // 13. (big) DataSource V2 pruned+clamped read of the same scene: a
      // 1-variable projection over 1000 lines must decode ~2% of the file's
      // pixels and 1 of its 10 planes — the scan, not Spark, does the
      // skipping (pruneColumns + line pushdown), so this should run an
      // order of magnitude faster than the full ingest above.
      timed(s"scene_dsv2_pruned_read_1000x${inS}_x1var") {
        val df = spark.read.format("owi").load(ncPath)
          .filter(col("line") < 1000)
          .select(col("line"), col("sample"), col("owiVar3"))
        val maxErr = df.select(
            abs(col("owiVar3") - pmod(col("line") * 7 + col("sample") * 3 + lit(3), lit(1000))).as("e"))
          .agg(max(col("e")), count(lit(1))).head()
        require(maxErr.getDouble(0) == 0.0 && maxErr.getLong(1) == 1000L * inS,
          s"dsv2 pruned read mismatch: $maxErr")
      }
      new java.io.File(ncPath).delete()
    }

    // artifact-backed session summary (r18 verdict): every target above
    // gate-asserts inline, so completing with skipped=0 makes "ALL N
    // targets green in one session" self-verifying from this line
    println(f"[scale] session summary: targets=$nTargetsRun " +
      f"skipped=$nTargetsSkipped sections=${
        if (sections.isEmpty) "all" else sections.toSeq.sorted.mkString("+")
      } big=$big elapsed=${(System.nanoTime() - sessionT0) / 1e9}%.1f s")
    spark.stop()
  }
}
