package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical text-curation operators that carry a trained model as
  * bounded broadcast state: HTML boilerplate extraction (the crawl → text
  * step between the WARC source and the curation funnel), an in-engine
  * hashed bigram language model for CCNet-style perplexity filtering
  * (Wenzek et al. 2020), a hashed-unigram Naive Bayes classifier
  * (the fastText-classifier role in CCNet/RefinedWeb quality filtering),
  * and BM25 retrieval (Robertson & Zaragoza 2009) over the corpus.
  *
  * Scale shapes (the 100 TB story):
  *   - HTML extraction is pure per-row column math — zero shuffles, runs
  *     at scan parallelism, payloads never move.
  *   - The bigram LM's count tables are bounded at `buckets`² and
  *     `buckets` rows by construction regardless of corpus size, so
  *     scoring is two BROADCAST joins + one map-side-combinable groupBy.
  *     Train once, score any number of batches/streams.
  *   - The NB feature table is bounded at `classes × buckets` rows
  *     (dense, so unseen features keep their smoothed weight — the same
  *     contract as [[TextOps.dsirWeights]]); scoring is one broadcast
  *     join + one groupBy.
  *   - BM25's per-term statistics are bounded at the QUERY vocabulary
  *     (tiny), never the corpus vocabulary: tokens are filtered to query
  *     terms BEFORE any aggregation, so the only corpus-sized shuffle is
  *     the per-(doc, term) tf groupBy over matching tokens, and the
  *     final top-k runs as a WindowGroupLimit, never a global sort.
  *
  * All arithmetic is engine-portable (md5-prefix token hashing shared
  * with the DuckDB oracles, RE2-compatible regexes, 6-decimal rounding
  * at the float boundary).
  */
object LmOps {

  // ---------------------------------------------------------------- HTML

  /** Block-level tags that delimit candidate text blocks (RE2-safe). */
  val BlockTagPattern: String =
    "</?(?:p|div|h[1-6]|li|ul|ol|br|tr|td|th|table|section|article|header|footer|nav|blockquote|title)[^>]*>"

  private def unescapeEntities(c: Column): Column = {
    // Longest-entity-first, '&amp;' LAST so '&amp;lt;' → '&lt;' stays
    // literal (standard single-pass unescape order). Mirrored verbatim in
    // the DuckDB oracle.
    val steps = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    steps.foldLeft(c) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }
  }

  /** Boilerplate-removing HTML → text extraction (jusText-style link
    * density + minimum-length block heuristic, Pomikálek 2011):
    * drop script/style subtrees, split on block-level tags, strip inline
    * tags + unescape entities + normalize whitespace per block, then keep
    * blocks with ≥ `minWords` words and link density below
    * 1/`linkRatio` (links·linkRatio ≤ words — integer math, no float).
    *
    * Returns struct(text, n_blocks, n_kept): the retained blocks joined
    * with '\n', the non-empty block count, and the kept block count.
    * Pure column math — no shuffle, no UDF.
    */
  def htmlText(html: Column, minWords: Int = 5, linkRatio: Int = 4): Column = {
    val noScript = regexp_replace(
      regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " ")
    val blocks = split(noScript, BlockTagPattern)
    val per = transform(blocks, b => {
      val stripped = trim(regexp_replace(
        unescapeEntities(regexp_replace(b, "<[^>]*>", " ")), "\\s+", " "))
      struct(stripped.as("t"), regexp_count(b, lit("<a[ >]")).as("links"))
    })
    val nonEmpty = filter(per, x => x.getField("t") =!= "")
    val kept = filter(nonEmpty, x =>
      size(split(x.getField("t"), " ")) >= minWords &&
        x.getField("links") * linkRatio <= size(split(x.getField("t"), " ")))
    struct(
      array_join(transform(kept, _.getField("t")), "\n").as("text"),
      size(nonEmpty).as("n_blocks"),
      size(kept).as("n_kept"))
  }

  /** [[htmlText]] over a DataFrame: `htmlCol` → (extracted text,
    * n_blocks, n_kept) alongside `idCol`. */
  def htmlExtract(docs: DataFrame, htmlCol: String = "html",
      idCol: String = "doc_id", minWords: Int = 5, linkRatio: Int = 4): DataFrame = {
    val ex = htmlText(col(htmlCol), minWords, linkRatio)
    // regex-cascade CPU with no shuffle below it — spread a single-split
    // input across cores (no-op when splits suffice)
    val docsPar = graft.core.Plans.ensureMinPartitions(docs,
      docs.sparkSession.sparkContext.defaultParallelism)
    docsPar.select(col(idCol), ex.getField("text").as("text"),
      ex.getField("n_blocks").cast("long").as("n_blocks"),
      ex.getField("n_kept").cast("long").as("n_kept"))
  }

  // ------------------------------------------------------- bigram LM

  /** Hashed-bucket id of a token (md5-prefix hash mod `buckets`),
    * identical to the oracle's `('0x'||substr(md5(tok),1,15))::BIGINT % B`. */
  private def bucket(tok: Column, buckets: Int): Column =
    TextOps.tokenHash(tok) % buckets

  /** Per-document (b1, b2) hashed bigram pairs, one row per adjacent
    * token pair. */
  private def bigramPairs(docs: DataFrame, buckets: Int, idCol: String,
      textCol: String): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    // tokenize+hash is the CPU of every LM pass and runs BEFORE the first
    // exchange — a single-split input would pin it to one core (no-op on
    // inputs with enough splits; the Inversion.invert convention)
    graft.core.Plans.ensureMinPartitions(docs,
        docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), transform(toks, t => bucket(t, buckets)).as("__bs"))
      // pair each bucket with its successor; the last position has a null
      // successor (get() tolerates the out-of-range index under ANSI mode)
      // and is filtered — no sequence() edge case for single-token docs
      // (sequence(1, 0) is DESCENDING).
      .select(col(idCol), explode(expr(
        "filter(transform(__bs, (x, i) -> struct(x AS b1, get(__bs, i + 1) AS b2)), p -> p.b2 IS NOT NULL)"))
        .as("__p"))
      .select(col(idCol), col("__p.b1").as("b1"), col("__p.b2").as("b2"))
  }

  /** Train the bigram LM: conditional counts c(b1,b2) — bounded at
    * `buckets`² rows by construction — plus context totals c1(b1),
    * bounded at `buckets` rows. One corpus scan, two
    * map-side-combinable groupBys. */
  def lmCounts(corpus: DataFrame, buckets: Int = 1024,
      textCol: String = "text"): (DataFrame, DataFrame) = {
    val pairs = bigramPairs(corpus.select(lit(0L).as("__id"), col(textCol)),
      buckets, "__id", textCol)
    // persisted: c2 is read by the derived context totals AND the scorer's
    // broadcast build — without the pin each reader re-tokenizes the corpus
    // (broadcast builds never share subtrees). Bounded at B² rows.
    val c2 = graft.core.CacheLife.scoped(
      pairs.groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("c")).persist())
    // context totals roll up from the B²-bounded bigram table — a second
    // tokenize-and-shuffle pass over the corpus computed the same number
    // (Σ_b2 c(b1,b2) ≡ count of pairs with context b1; the knCounts shape)
    val c1 = c2.groupBy(col("b1")).agg(sum(col("c")).as("c1"))
    (c2, c1)
  }

  /** Score documents against a trained ([[lmCounts]]) model: per-token
    * negative log-likelihood under add-alpha smoothing
    * p(b2|b1) = (c + α)/(c1 + α·B), mean'd per document →
    * `nll` (mean −ln p) and `ppl` (e^nll). Unseen bigrams/contexts keep
    * the smoothed count-0 probability, so NEW batches (the streaming
    * twin's point) never drop tokens. `is_fluent` thresholds nll — the
    * CCNet head/tail split dial.
    *
    * Both model sides are broadcast (bounded by construction at B² and B
    * rows); the per-doc mean collapses map-side.
    */
  def lmScoreAgainst(docs: DataFrame, c2: DataFrame, c1: DataFrame,
      buckets: Int = 1024, alpha: Double = 0.5, nllThreshold: Double = 4.0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val pairs = bigramPairs(docs, buckets, idCol, textCol)
    pairs
      .join(broadcast(c1), Seq("b1"), "left")
      .join(broadcast(c2), Seq("b1", "b2"), "left")
      .select(col(idCol),
        (-log((coalesce(col("c"), lit(0L)) + alpha) /
          (coalesce(col("c1"), lit(0L)) + alpha * buckets))).as("__nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__nll")).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__s") / col("n_bigrams"), 6).as("nll"),
        round(exp(col("__s") / col("n_bigrams")), 6).as("ppl"))
      .withColumn("is_fluent", round(col("nll"), 6) < lit(nllThreshold))
  }

  /** Train-and-score on one corpus (the batch query shape). */
  def lmPerplexity(docs: DataFrame, buckets: Int = 1024, alpha: Double = 0.5,
      nllThreshold: Double = 4.0, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (c2, c1) = lmCounts(docs, buckets, textCol)
    lmScoreAgainst(docs, c2, c1, buckets, alpha, nllThreshold, idCol, textCol)
  }

  // -------------------------------------------------- Kneser-Ney bigram LM

  /** Interpolated Kneser-Ney bigram model (Kneser & Ney 1995; Chen &
    * Goodman 1999 eq. 4.23) over hashed buckets — the smoothing the
    * production perplexity filters (KenLM in CCNet) actually use, where
    * [[lmPerplexity]]'s add-α is the classroom baseline. Absolute
    * discount D on seen bigrams, mass redistributed by CONTINUATION
    * counts (how many distinct contexts a word follows — "Francisco" is
    * frequent but predictable, so it gets less backoff mass than its raw
    * frequency suggests):
    *
    *   P(w2|w1)  = (max(c(w1,w2) − D, 0) + D·N1+(w1,·)·Pc(w2)) / c(w1)
    *   Pc(w2)    = (max(N1+(·,w2) − D, 0))/T + (D·V/T)·(1/B)   (uniform base)
    *
    * with T = total bigram types, V = distinct right types, B = buckets;
    * both levels sum to exactly 1. Unseen contexts fall through to
    * Pc(w2), whose uniform floor keeps every probability positive, so
    * new batches (the streaming shape) always score.
    *
    * Returns `(c2, c1n, rt, tv)`: bigram counts, per-context totals +
    * continuation fan-outs, per-word left-context counts, and the (T, V)
    * scalars — every side bounded by construction at B²/B/B/1 rows, so
    * scoring broadcasts all of them exactly like [[lmScoreAgainst]].
    */
  def knCounts(corpus: DataFrame, buckets: Int = 1024,
      textCol: String = "text"): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val pairs = bigramPairs(corpus.select(lit(0L).as("__id"), col(textCol)),
      buckets, "__id", textCol)
    // persisted: c2 feeds FOUR readers (c1n, rt, tv, and the scorer's
    // broadcast) and each is built independently — the pin makes the
    // corpus tokenize-and-count run once. Bounded at B² rows.
    val c2 = graft.core.CacheLife.scoped(
      pairs.groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("c")).persist())
    val c1n = c2.groupBy(col("b1"))
      .agg(sum(col("c")).as("c1"), count(lit(1)).as("n1pl"))
    val rt = c2.groupBy(col("b2")).agg(count(lit(1)).as("n1pr"))
    val tv = c2.agg(count(lit(1)).as("t_types"), countDistinct(col("b2")).as("v_types"))
    (c2, c1n, rt, tv)
  }

  /** Score documents against a trained [[knCounts]] model: per-bigram
    * −ln P summed and mean'd per document, same output shape as
    * [[lmScoreAgainst]] (`nll`, `ppl`, `is_fluent`). All four model
    * sides broadcast; the per-doc mean collapses map-side. */
  def knScoreAgainst(docs: DataFrame, c2: DataFrame, c1n: DataFrame,
      rt: DataFrame, tv: DataFrame, buckets: Int = 1024, discount: Double = 0.75,
      nllThreshold: Double = 4.0, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val d = lit(discount)
    val pairs = bigramPairs(docs, buckets, idCol, textCol)
    val puni = (greatest(coalesce(col("n1pr"), lit(0L)) - d, lit(0.0)) / col("t_types")) +
      (d * col("v_types") / col("t_types")) * (lit(1.0) / buckets)
    val p = when(col("c1").isNotNull,
      (greatest(coalesce(col("c"), lit(0L)) - d, lit(0.0)) +
        d * col("n1pl") * puni) / col("c1"))
      .otherwise(puni)
    pairs
      .join(broadcast(c1n), Seq("b1"), "left")
      .join(broadcast(c2), Seq("b1", "b2"), "left")
      .join(broadcast(rt), Seq("b2"), "left")
      .crossJoin(broadcast(tv))
      .select(col(idCol), (-log(p)).as("__nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__nll")).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__s") / col("n_bigrams"), 6).as("nll"),
        round(exp(col("__s") / col("n_bigrams")), 6).as("ppl"))
      .withColumn("is_fluent", round(col("nll"), 6) < lit(nllThreshold))
  }

  /** Train-and-score Kneser-Ney on one corpus (the batch query shape). */
  def knPerplexity(docs: DataFrame, buckets: Int = 1024, discount: Double = 0.75,
      nllThreshold: Double = 4.0, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (c2, c1n, rt, tv) = knCounts(docs, buckets, textCol)
    knScoreAgainst(docs, c2, c1n, rt, tv, buckets, discount, nllThreshold,
      idCol, textCol)
  }

  // ------------------------------------------------------ Naive Bayes

  /** Train a multinomial Naive Bayes classifier over hashed unigrams:
    * returns (weights, priors) where weights is DENSE over
    * classes × range(buckets) (bounded by construction; unseen features
    * keep the smoothed count-0 log-likelihood — same dense contract as
    * [[TextOps.dsirWeights]]) and priors is one row per class.
    * One corpus scan; every aggregate is map-side combinable.
    */
  def nbTrain(corpus: DataFrame, labelCol: String, buckets: Int = 4096,
      alpha: Double = 0.5, textCol: String = "text"): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    val tok = graft.core.Plans.ensureMinPartitions(corpus,
        corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(labelCol).as("cls"), explode(TextOps.tokens(col(textCol))).as("__tok"))
      .select(col("cls"), bucket(col("__tok"), buckets).as("b"))
    // persisted: cnt is read by the derived class totals, the class list,
    // and the dense-weights broadcast — one tokenize pass total. Bounded
    // at classes × buckets rows.
    val cnt = graft.core.CacheLife.scoped(
      tok.groupBy(col("cls"), col("b")).agg(count(lit(1)).as("c")).persist())
    // class totals roll up from the bounded (cls, b) count table instead
    // of re-tokenizing the corpus (Σ_b c ≡ token count of the class)
    val tot = cnt.groupBy(col("cls")).agg(sum(col("c")).as("tc"))
    val classes = tot.select(col("cls"))
    val dense = spark.range(buckets).select(col("id").as("b"))
      .crossJoin(broadcast(classes))
    val weights = dense
      .join(broadcast(cnt), Seq("cls", "b"), "left")
      .join(broadcast(tot), Seq("cls"))
      .select(col("cls"), col("b"),
        log((coalesce(col("c"), lit(0L)) + alpha) / (col("tc") + alpha * buckets)).as("w"))
    val nDocs = corpus.groupBy(col(labelCol).as("cls")).agg(count(lit(1)).as("nd"))
    val priors = nDocs
      .crossJoin(broadcast(nDocs.agg(sum(col("nd")).as("n"))))
      .select(col("cls"), log(col("nd") / col("n")).as("prior"))
    (weights, priors)
  }

  /** Score documents against a trained ([[nbTrain]]) model: per-class
    * score = prior + Σ_tokens log p(feature|class); prediction = argmax
    * over the ROUNDED score, ties broken by class name (deterministic in
    * both engines). Weights join is a broadcast (bounded at
    * classes × buckets rows); the per-(doc, class) sum collapses
    * map-side; the argmax window partitions on the doc id →
    * WindowGroupLimit keeps it map-side top-1, never a global sort.
    */
  def nbScoreAgainst(docs: DataFrame, weights: DataFrame, priors: DataFrame,
      buckets: Int = 4096, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.core.Plans.ensureMinPartitions(docs,
        docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("__tok"))
      .select(col(idCol), bucket(col("__tok"), buckets).as("b"))
      // collapse to per-doc term frequencies BEFORE attaching weights: the
      // weights join multiplies every row by |classes|, so it must run on
      // the (doc, bucket) tf table, not the raw token stream — Σ_tokens w
      // ≡ Σ_buckets tf·w (same mean to well past the round-6 output).
      // FLOAT HAZARD (ADVICE r19): the regrouping reassociates the double
      // sum, so a likelihood landing exactly on a 0.5e-6 boundary could
      // flip the 6th decimal vs a token-order sum. Verified hash-identical
      // at sf0.001/0.01/0.1; sums were already order-nondeterministic
      // (shuffle order), so this adds no NEW nondeterminism class — but if
      // oracle equality at other scales ever breaks here, quantize w to a
      // fixed grid before summing.
      .groupBy(col(idCol), col("b"))
      .agg(count(lit(1)).as("__tf"))
      .join(broadcast(weights), Seq("b"))
      .groupBy(col(idCol), col("cls"))
      .agg(sum(col("__tf") * col("w")).as("__like"))
      .join(broadcast(priors), Seq("cls"))
      .select(col(idCol), col("cls"),
        round(col("prior") + col("__like"), 6).as("score"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("cls").asc)))
      .filter(col("__r") === 1)
      .select(col(idCol), col("cls").as("pred"), col("score"))
  }

  /** Train-and-score on one corpus; emits prediction vs. actual. */
  def nbClassify(docs: DataFrame, labelCol: String, buckets: Int = 4096,
      alpha: Double = 0.5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (w, p) = nbTrain(docs, labelCol, buckets, alpha, textCol)
    nbScoreAgainst(docs, w, p, buckets, idCol, textCol)
      .join(docs.select(col(idCol), col(labelCol).as("actual")), Seq(idCol))
      .withColumn("correct", col("pred") === col("actual"))
  }

  // ------------------------------------------------------------- BM25

  /** BM25 top-k retrieval (Robertson & Zaragoza 2009; k1/b defaults from
    * the standard Okapi parameterization). `queries` is (qid, term) —
    * the query vocabulary, tiny by construction, broadcast everywhere.
    *
    * score(d, q) = Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
    * with idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1).
    *
    * Corpus tokens are filtered to query terms BEFORE any aggregation
    * (broadcast semi-filter), so df/tf tables are bounded at
    * |query vocab| and matching docs only; the final top-k per query is
    * a rank window over (qid) → WindowGroupLimit, never a global sort.
    */
  /** Retrieval-evaluation metrics over two ranked lists — the measurement
    * half every retrieval pipeline needs beside the retrievers themselves
    * (the ScaleBench recall gates, promoted to a first-class operator):
    * per query, recall@k / precision@k / MRR of `system` against `truth`.
    *
    * All metrics are integer micro-units (`1e6·hits DIV n_rel`,
    * `1e6 DIV first_hit_rank`) — rank arithmetic is exact, so the numbers
    * are engine-independent and oracle-hashable; queries with NO system
    * hit carry mrr_micro = 0 rather than dropping (left join from truth's
    * query set).
    *
    * Scale shape: both inputs are k-bounded per query by construction
    * (they are ranked lists); the hit join shuffles only k·|queries| rows
    * on (query, doc), and every aggregate is partial-agg friendly. Cost
    * is independent of corpus size — like the RRF fusion (q133), the
    * expensive part already happened in the retrievers.
    */
  /** Rank-biased overlap between two top-k rankings per query (Webber,
    * Moffat & Zobel 2010) — the LIST-similarity dial [[rankingMetrics]]
    * lacks: recall/MRR score a system against binary relevance, RBO
    * scores two RANKINGS against each other (old retriever vs new
    * retriever, ANN vs exact shortlist — "how much did the ranking
    * itself move?"), top-weighted so disagreement at rank 1 costs more
    * than at rank k. With A_d = |S₁:d ∩ T₁:d| / d the agreement at
    * depth d:
    *   RBO_EXT = (1−p)·Σ_{d=1..k} p^{d−1}·A_d  +  p^k·A_k
    * (the standard extrapolated point estimate — identical lists score
    * exactly 1, disjoint lists 0; p = persistence, 0.9 ≈ "top ~10 ranks
    * carry the weight").
    *
    * Determinism contract: overlap counts are exact integers (each
    * common doc contributes to every depth ≥ max(rank_a, rank_b));
    * per-depth terms are round-9 doubles with IDENTICAL expression text
    * in both engines (POWER/e0 literals — the psi/erfc discipline)
    * summed as DECIMAL(24,9); rbo6/agreement are round-6/micro outputs.
    *
    * Scale shape: the rank join and every aggregate key on the query id;
    * the depth expansion is a bounded ≤k² rows per query (k ≤ 1000 by
    * contract — top-k lists, never corpora); zero SinglePartition.
    * Caller contract: `rankCol` is 1..k and unique per (query, side) —
    * the [[rankingMetrics]] input shape. Queries present in only one
    * side score overlap 0 at every depth. Output (one row per query):
    * query_id, n_common, agreement_k_micro, rbo6.
    */
  def rbo(a: DataFrame, b: DataFrame, k: Int, p: Double = 0.9,
      queryCol: String = "query_id", docCol: String = "doc_id",
      rankCol: String = "rank"): DataFrame = {
    require(k > 0 && k <= 1000, s"k must be in [1, 1000], got $k")
    require(p > 0.0 && p < 1.0, s"p must be in (0, 1), got $p")
    val qc = col(queryCol)
    val sa = a.filter(col(rankCol) <= k)
      .select(qc, col(docCol), col(rankCol).as("__ra"))
    val sb = b.filter(col(rankCol) <= k)
      .select(qc, col(docCol), col(rankCol).as("__rb"))
    // every query from either side keeps a row (one-sided queries → 0)
    val queries = sa.select(qc).union(sb.select(qc)).distinct()
    // each common doc enters every prefix-intersection at depth ≥ max rank
    val cm = sa.join(sb, Seq(queryCol, docCol))
      .select(qc, greatest(col("__ra"), col("__rb")).as("__m"))
      .groupBy(qc, col("__m")).agg(count(lit(1)).as("__c"))
    val depths = queries.withColumn("__d", explode(sequence(lit(1), lit(k))))
    val cmR = cm.withColumnRenamed(queryCol, "__qc")
    val agree = depths.join(cmR,
        col(queryCol) === col("__qc") && col("__m") <= col("__d"), "left")
      .groupBy(qc, col("__d"))
      .agg(coalesce(sum(col("__c")), lit(0L)).as("__a"))
    val pe = s"${p}e0"
    agree
      .withColumn("__term", expr(
        s"ROUND((1.0e0 - $pe) * POWER($pe, __d - 1) " +
          "* CAST(__a AS DOUBLE) / __d, 9)"))
      .withColumn("__ext", expr(
        s"CASE WHEN __d = $k THEN " +
          s"ROUND(POWER($pe, $k) * CAST(__a AS DOUBLE) / __d, 9) " +
          "ELSE 0.0e0 END"))
      .groupBy(qc)
      .agg(max(when(col("__d") === k, col("__a"))).as("n_common"),
        round(coalesce(
          sum(col("__term").cast(DecimalType(24, 9)) +
            col("__ext").cast(DecimalType(24, 9))),
          lit(0).cast(DecimalType(24, 9))).cast("double"), 6).as("rbo6"))
      .select(qc, col("n_common"),
        expr(s"n_common * 1000000 DIV $k").as("agreement_k_micro"),
        col("rbo6"))
  }

  /** Per-slice rollup of [[rbo]] — the dashboard twin: q234 emits one
    * row per query, but "did the re-ranker move DE queries more than EN
    * queries" needs the slice view. `slices` maps each query to ONE
    * slice (inner join — unmapped queries drop; the caller owns the
    * mapping's uniqueness). Means are exact integers: rbo6 is a round-6
    * double, so rbo_micro = ROUND(rbo6·10⁶) is exact in both engines
    * (the identical-expression-text discipline) and mean_rbo_micro =
    * Σ rbo_micro DIV n — floor division, no doubles in the aggregate.
    *
    * Scale shape: the per-query pass is [[rbo]]'s (keyed joins, ≤k²
    * bounded depth expansion); the rollup is one map-side-combinable
    * groupBy on the slice key. Output (one row per slice): slice,
    * n_queries, mean_rbo_micro, min_rbo_micro, max_rbo_micro,
    * mean_agreement_micro.
    */
  def rboBy(a: DataFrame, b: DataFrame, slices: DataFrame, k: Int,
      p: Double = 0.9, queryCol: String = "query_id",
      docCol: String = "doc_id", rankCol: String = "rank",
      sliceCol: String = "slice"): DataFrame = {
    val per = rbo(a, b, k, p, queryCol, docCol, rankCol)
      .withColumn("__rm", expr("CAST(ROUND(rbo6 * 1000000.0e0, 0) AS BIGINT)"))
    per.join(slices.select(col(queryCol), col(sliceCol)), Seq(queryCol))
      .groupBy(col(sliceCol))
      .agg(count(lit(1)).as("n_queries"),
        coalesce(sum(col("__rm")), lit(0L)).as("__sm"),
        coalesce(min(col("__rm")), lit(0L)).as("min_rbo_micro"),
        coalesce(max(col("__rm")), lit(0L)).as("max_rbo_micro"),
        coalesce(sum(col("agreement_k_micro")), lit(0L)).as("__sa"))
      .select(col(sliceCol), col("n_queries"),
        expr("__sm DIV n_queries").as("mean_rbo_micro"),
        col("min_rbo_micro"), col("max_rbo_micro"),
        expr("__sa DIV n_queries").as("mean_agreement_micro"))
  }

  /** Corpus-level distribution of [[rbo]] — exact quantiles of
    * rbo_micro over every query, the one-glance "how much did the
    * ranking move overall" view (the mean alone hides a bimodal
    * half-moved/half-identical split that the deciles expose). Rides
    * `Sketches.groupedQuantiles` with a constant key: fully
    * distributed, two-phase histogram ranks, value at 0-indexed rank
    * ⌊q·(n−1)⌋ — no driver collect, no global sort. Output (one row
    * per requested quantile): q, value (rbo_micro at that rank).
    */
  def rboQuantiles(a: DataFrame, b: DataFrame, k: Int, qs: Seq[Double],
      p: Double = 0.9, queryCol: String = "query_id",
      docCol: String = "doc_id", rankCol: String = "rank"): DataFrame = {
    require(qs.nonEmpty, "rboQuantiles needs at least one quantile")
    val per = rbo(a, b, k, p, queryCol, docCol, rankCol)
      .select(expr("CAST(ROUND(rbo6 * 1000000.0e0, 0) AS BIGINT)")
        .as("rbo_micro"), lit(0).as("__all"))
    Sketches.groupedQuantiles(per, "__all", "rbo_micro", qs)
      .select(col("q"), col("value"))
  }

  def rankingMetrics(truth: DataFrame, system: DataFrame, k: Int,
      queryCol: String = "query_id", docCol: String = "doc_id",
      rankCol: String = "rank"): DataFrame = {
    require(k > 0, "k must be positive")
    val rel = truth.filter(col(rankCol) <= k)
      .select(col(queryCol), col(docCol))
    val sys = system.filter(col(rankCol) <= k)
      .select(col(queryCol), col(docCol), col(rankCol).as("__sys_rank"))
    val nRel = rel.groupBy(col(queryCol))
      .agg(count(lit(1)).cast("int").as("n_rel"))
    val hits = rel.join(sys, Seq(queryCol, docCol))
      .groupBy(col(queryCol))
      .agg(count(lit(1)).cast("int").as("n_hits"),
        min(col("__sys_rank")).cast("long").as("__first"))
    nRel.join(hits, Seq(queryCol), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0)))
      // DIV, not `/`: Spark's `/` on integral types is FRACTIONAL (double)
      .select(col(queryCol), col("n_rel"), col("n_hits"),
        expr("CAST(n_hits AS BIGINT) * 1000000 DIV n_rel").as("recall_micro"),
        expr(s"CAST(n_hits AS BIGINT) * 1000000 DIV $k").as("precision_micro"),
        coalesce(expr("1000000 DIV __first"), lit(0L)).as("mrr_micro"))
  }

  /** Per-class classifier evaluation from (actual, predicted) label pairs:
    * support / prediction counts, the confusion-matrix diagonal, and
    * precision / recall / F1 in integer micro-units (floor division — the
    * [[rankingMetrics]] contract). The class universe is the UNION of
    * actual and predicted values, so a class the model never predicts (or
    * hallucinates) still gets a row with zero on the missing side.
    *
    * Scale shape: ONE map-side-combinable groupBy over (actual, pred) —
    * partial aggregation collapses the corpus inside the scan and only
    * |classes|² count rows ever shuffle; every downstream join runs on
    * that tiny matrix. Evaluation cost is one aggregation pass at any
    * corpus size.
    *
    * Output: cls, n_actual, n_pred, tp, fp, fn, precision_micro,
    * recall_micro, f1_micro.
    */
  def classifierEval(df: DataFrame, actualCol: String,
      predCol: String): DataFrame = {
    val cm = df.groupBy(col(actualCol).as("actual"), col(predCol).as("pred"))
      .agg(count(lit(1)).as("n"))
    val classes = cm.select(col("actual").as("cls"))
      .unionByName(cm.select(col("pred").as("cls"))).distinct()
    val actTot = cm.groupBy(col("actual").as("cls")).agg(sum("n").as("n_actual"))
    val predTot = cm.groupBy(col("pred").as("cls")).agg(sum("n").as("n_pred"))
    val diag = cm.filter(col("actual") === col("pred"))
      .select(col("actual").as("cls"), col("n").as("tp"))
    classes
      .join(actTot, Seq("cls"), "left")
      .join(predTot, Seq("cls"), "left")
      .join(diag, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("fp", col("n_pred") - col("tp"))
      .withColumn("fn", col("n_actual") - col("tp"))
      .withColumn("precision_micro",
        expr("CASE WHEN n_pred = 0 THEN 0 ELSE tp * 1000000 DIV n_pred END"))
      .withColumn("recall_micro",
        expr("CASE WHEN n_actual = 0 THEN 0 ELSE tp * 1000000 DIV n_actual END"))
      .withColumn("f1_micro",
        expr("""CASE WHEN precision_micro + recall_micro = 0 THEN 0
                ELSE 2 * precision_micro * recall_micro DIV (precision_micro + recall_micro) END"""))
  }

  /** Cohen's kappa (Cohen 1960) — chance-corrected agreement between two
    * label columns (two annotators, or a classifier against truth). The
    * observed and expected agreement are first fixed as integer micro-unit
    * fractions (po = agree/n, pe = Σ_l rowTot_l·colTot_l / n²), then
    * kappa = (po − pe)/(1 − pe) is derived from THOSE micro values with
    * sign-magnitude floor division — every step is integer, so both
    * engines agree bit-for-bit even for negative kappa (truncate-vs-floor
    * on negatives never fires: division runs on magnitudes only).
    *
    * The pe numerator Σ rowTot·colTot is carried as DECIMAL(38,0): at
    * n = 10⁹ it reaches 10¹⁸·10⁶ scaled — past BIGINT, fine in 128-bit.
    *
    * Scale shape: one map-side-combinable (a, b) groupBy shuffles
    * |labels|² counts; everything after runs on that tiny matrix.
    * Output (one row): n, n_agree, po_micro, pe_micro, kappa_micro.
    */
  def agreementKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cm = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n"))
    val at = cm.groupBy("a").agg(sum("n").as("na"))
    val bt = cm.groupBy("b").agg(sum("n").as("nb"))
    val s = at.join(bt, at("a") === bt("b"))
      .agg(coalesce(sum(col("na").cast(DecimalType(38, 0)) * col("nb")),
        lit(0).cast(DecimalType(38, 0))).as("s"))
    val tot = cm.agg(sum("n").as("n"),
      coalesce(sum(when(col("a") === col("b"), col("n"))), lit(0L)).as("n_agree"))
    tot.crossJoin(s) // 1×1
      .withColumn("po_micro", expr("n_agree * 1000000 DIV n"))
      .withColumn("pe_micro",
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * s)
                DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"""))
      .withColumn("kappa_micro",
        expr("""CASE WHEN pe_micro = 1000000 THEN 0 ELSE
                  (CASE WHEN po_micro >= pe_micro THEN 1 ELSE -1 END) *
                  (abs(po_micro - pe_micro) * 1000000 DIV (1000000 - pe_micro))
                END"""))
      .select(col("n"), col("n_agree"), col("po_micro"), col("pe_micro"),
        col("kappa_micro"))
  }

  /** ROUGE-N summary-overlap metrics (Lin 2004) per (candidate, reference)
    * text pair: clipped n-gram multiset overlap, precision / recall / F1 in
    * integer micro-units (floor division, so both engines agree exactly —
    * the [[rankingMetrics]] contract).
    *
    * ZERO shuffle — every metric is a per-row computation over the pair's
    * own n-gram arrays: evaluation cost is one map pass regardless of
    * corpus size, and the clip runs in O(|cand| + |ref|) per row through
    * the native `ngram_clip_overlap` expression (sql.NgramClip — a hash
    * count of the reference grams streamed against the candidate grams,
    * inside whole-stage codegen). Gram arrays are materialized in their
    * own projection first (interpreted HOFs re-evaluate non-cheap lambda
    * references per element — the measured re-split trap documented on
    * TextOps.qualityFilter).
    *
    * Output: input columns + n_overlap, n_cand, n_ref, precision_micro,
    * recall_micro, f1_micro (empty sides score 0, never divide by zero).
    */
  def rougeN(pairs: DataFrame, candCol: String, refCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 1, "n must be positive")
    val grams = pairs
      .withColumn("__ct", split(col(candCol), " "))
      .withColumn("__rt", split(col(refCol), " "))
      .withColumn("__cg", TextOps.shingles(col("__ct"), n))
      .withColumn("__rg", TextOps.shingles(col("__rt"), n))
    // linear-time hash clip (sql.NgramClip) — the interpreted-HOF spelling
    // (per-distinct-gram filter scans, O(d·(c+r))) measured 17.1 s vs
    // 10.9 s at the 1M-pair gate; the remainder is gram construction
    val clipped = grams.withColumn("n_overlap",
      expr("ngram_clip_overlap(__cg, __rg)"))
      .withColumn("n_cand", size(col("__cg")).cast("long"))
      .withColumn("n_ref", size(col("__rg")).cast("long"))
    clipped
      .withColumn("precision_micro",
        expr("CASE WHEN n_cand = 0 THEN 0 ELSE n_overlap * 1000000 DIV n_cand END"))
      .withColumn("recall_micro",
        expr("CASE WHEN n_ref = 0 THEN 0 ELSE n_overlap * 1000000 DIV n_ref END"))
      .withColumn("f1_micro",
        expr("""CASE WHEN precision_micro + recall_micro = 0 THEN 0
                ELSE 2 * precision_micro * recall_micro DIV (precision_micro + recall_micro) END"""))
      .drop("__ct", "__rt", "__cg", "__rg")
  }

  /** chrF-style character-n-gram F-score (Popović 2015, β=1, spaces
    * stripped) per (candidate, reference) pair — the MT/generation eval
    * that credits partial word matches ROUGE's token grams miss. Same
    * integer micro-unit contract and the same linear-time
    * `ngram_clip_overlap` hash clip as [[rougeN]]; ZERO shuffle.
    *
    * Output: input columns + n_overlap, n_cand, n_ref, precision_micro,
    * recall_micro, f1_micro.
    */
  def chrF(pairs: DataFrame, candCol: String, refCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 1, "n must be positive")
    val base = pairs
      .withColumn("__cs", regexp_replace(col(candCol), " ", ""))
      .withColumn("__rs", regexp_replace(col(refCol), " ", ""))
    // n = 2 runs straight off the strings through the native
    // char_bigram_clip kernel (sql.CharBigramClip) — no per-row bigram
    // array ever materializes (2.3 s → sub-second at sf0.1); other n fall
    // back to the substr-array + ngram_clip_overlap path
    val g =
      if (n == 2) base
        .withColumn("n_overlap", expr("char_bigram_clip(__cs, __rs)"))
        .withColumn("n_cand",
          expr("CASE WHEN length(__cs) >= 2 THEN length(__cs) - 1 ELSE 0 END").cast("long"))
        .withColumn("n_ref",
          expr("CASE WHEN length(__rs) >= 2 THEN length(__rs) - 1 ELSE 0 END").cast("long"))
      else base
        .withColumn("__cg", when(length(col("__cs")) >= n,
          transform(sequence(lit(1), length(col("__cs")) - (n - 1)),
            i => col("__cs").substr(i, lit(n))))
          .otherwise(array().cast("array<string>")))
        .withColumn("__rg", when(length(col("__rs")) >= n,
          transform(sequence(lit(1), length(col("__rs")) - (n - 1)),
            i => col("__rs").substr(i, lit(n))))
          .otherwise(array().cast("array<string>")))
        .withColumn("n_overlap", expr("ngram_clip_overlap(__cg, __rg)"))
        .withColumn("n_cand", size(col("__cg")).cast("long"))
        .withColumn("n_ref", size(col("__rg")).cast("long"))
        .drop("__cg", "__rg")
    g.withColumn("precision_micro",
        expr("CASE WHEN n_cand = 0 THEN 0 ELSE n_overlap * 1000000 DIV n_cand END"))
      .withColumn("recall_micro",
        expr("CASE WHEN n_ref = 0 THEN 0 ELSE n_overlap * 1000000 DIV n_ref END"))
      .withColumn("f1_micro",
        expr("""CASE WHEN precision_micro + recall_micro = 0 THEN 0
                ELSE 2 * precision_micro * recall_micro DIV (precision_micro + recall_micro) END"""))
      .drop("__cs", "__rs", "__cg", "__rg")
  }

  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 5,
      k1: Double = 1.2, b: Double = 0.75, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = queries.select(col("term")).distinct()
    // tokenize ONCE per row into an array column, then derive dl and the
    // explode from it (two separate tokens() calls evaluated the split
    // twice per row); spread a single-split input across cores first
    val docsPar = graft.core.Plans.ensureMinPartitions(docs,
      docs.sparkSession.sparkContext.defaultParallelism)
    val toks = docsPar
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).as("dl"),
        explode(col("__toks")).as("term"))
    val matched = toks.join(broadcast(terms), Seq("term"))
    // query-vocab × matching-docs bounded, and read by BOTH the df rollup
    // broadcast and the scoring join — pinned so the corpus tokenize runs
    // once, not once per reader
    val tf = graft.core.CacheLife.scoped(
      matched.groupBy(col(idCol), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf")).persist())
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docsPar.agg(count(lit(1)).as("n"),
      avg(size(TextOps.tokens(col(textCol)))).as("avgdl"))
    val perTerm = tf
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .join(broadcast(queries), Seq("term"))
      .select(col("qid"), col(idCol),
        (log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))).as("__s"))
    val scored = perTerm.groupBy(col("qid"), col(idCol))
      .agg(round(sum(col("__s")), 6).as("score"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col(idCol))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol), col("score"))
  }

  // ---------------------------------------------------------------- AUC

  /** The eval family's label contract: 1 ⇒ positive, anything else (NULL
    * included) ⇒ negative. */
  private def isPos(labelCol: String): Column =
    when(col(labelCol).cast("long") === 1L, 1L).otherwise(0L)

  /** (keys…, score, p, ng): positives and negatives per distinct integer
    * score, map-side combinable. Complete-case on the score and, through
    * `nn` (the [[Keyed.guard]] filter), on the keys: an unscored row carries
    * no ranking information. */
  private[graft] def scoreCounts(df: DataFrame, keys: Seq[String], scoreCol: String,
      labelCol: String, nn: Column): DataFrame = {
    val ks = keys.map(col)
    df.select(ks :+ col(scoreCol).cast("long").as("score") :+
        isPos(labelCol).as("__y"): _*)
      .where(col("score").isNotNull && nn)
      .groupBy(ks :+ col("score"): _*)
      .agg(sum(col("__y")).as("p"), sum(lit(1L) - col("__y")).as("ng"))
  }

  /** A (score, p, ng) count-delta store with same-score rows combined and
    * NULL scores EXCLUDED — what the `*FromCounts` entry points read. A
    * null group would sort NULLS FIRST into every bucket offset while the
    * null-unsafe offsets join dropped its own row, silently inflating
    * neg_below for every real score. */
  private def mergedScoreCounts(counts: DataFrame): DataFrame =
    counts.where(col("score").isNotNull).groupBy(col("score"))
      .agg(sum(col("p")).as("p"), sum(col("ng")).as("ng"))

  /** ROC-AUC of an integer score against a binary label, computed as the
    * tie-corrected Mann–Whitney statistic WITHOUT a global rank: group by
    * distinct score (map-side combinable), then a two-phase cumulative
    * negative count over the distinct-score table — equal-width order-
    * preserving buckets, per-bucket parallel windows, and only the
    * ≤1025-row bucket-total table ever crosses a SinglePartition exchange
    * (the [[TextOps.vocabCoverage]] ranking discipline). Each positive at score
    * s beats every negative strictly below and half of the negatives tied
    * at s, so with num2 = Σ_s p_s·(2·negBelow_s + n_s):
    * AUC = num2 / (2·nPos·nNeg), floored to integer micro-units.
    *
    * Buckets are EQUAL-WIDTH from a min/max pass over the grouped table
    * (order-preserving integer arithmetic; the groupBy exchange is reused,
    * so the stats pass is nearly free) — NOT binary magnitude: for
    * uniform or metric-bounded scores a magnitude bucketing parks ~half
    * the distinct table in its top bucket, which is exactly the one-task
    * sort cliff the two-phase shape exists to avoid. Score ranges must
    * fit in a Long difference (micro-unit metrics always do).
    *
    * num2 is carried as DECIMAL(38,0) (nPos·nNeg alone passes BIGINT near
    * n = 10⁹; the oracle mirrors with HUGEINT). Rows of one class only
    * (no positives or no negatives) report auc_micro = 0 rather than NaN;
    * an empty or all-NULL-score input reports one row of NULLs, counts
    * included.
    *
    * Scale shape: shuffle volume is the distinct-score cardinality (for
    * micro-rounded bounded metrics ≤ 2·10⁶ + 1 rows), never the corpus;
    * no row-level rank, no single-reducer pass over data-sized input.
    * Output (one row): n, n_pos, n_neg, auc_micro, gini_micro.
    */
  def binaryAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    binaryAucBy(df, Nil, scoreCol, labelCol)

  /** [[binaryAuc]] over a PRE-AGGREGATED (score, p, ng) count table — the
    * incremental form a streaming eval monitor maintains (per-batch count
    * deltas sum to these without re-reading rows; the
    * [[Profile.bucketDriftFromCounts]] contract). Rows with the same
    * score are combined, so a delta store may carry duplicates.
    * NULL scores are EXCLUDED before anything else (complete-case is the
    * only consistent semantics here; see [[mergedScoreCounts]]).
    */
  def binaryAucFromCounts(counts: DataFrame): DataFrame =
    aucByCounts(mergedScoreCounts(counts), Nil)

  /** Average precision (area under the precision-recall curve — the
    * step-wise sum sklearn's average_precision_score computes) of an
    * integer score against a binary label: the ranking metric that stays
    * informative under heavy class imbalance, where AUC saturates (a
    * 0.1%-positive retrieval eval can show AUC 0.99 and AP 0.15). Rank-
    * free over the distinct-score table, same two-phase bucket discipline
    * as [[binaryAuc]]. Iterating thresholds in DESCENDING score order,
    *   AP = Σ_s Δrecall_s · precision_s
    *      = (1/nPos) · Σ_s p_s · cumPosGE_s / cumAllGE_s
    * with cumPosGE/cumAllGE counting rows at score ≥ s (a tied block
    * contributes its whole Δrecall at the block's pooled precision — the
    * standard step-wise treatment). Quantization contract: every
    * threshold term floors to micro units independently —
    *   term_s = (10⁶·p_s·cumPosGE_s) DIV cumAllGE_s,
    *   ap_micro = (Σ term_s) DIV nPos
    * — exact integers end-to-end (DECIMAL(38,0) products), engine-order-
    * free, floor error < |distinct scores|·10⁻⁶ of one recall step. Also
    * reports prevalence_micro = 10⁶·nPos DIV n — AP's chance baseline
    * (what a constant scorer earns, the number an AP must beat the way
    * an AUC must beat 500000). Degenerate no-positive input reports 0.
    * Output (one row): n, n_pos, n_neg, ap_micro, prevalence_micro.
    */
  def binaryAp(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    binaryApBy(df, Nil, scoreCol, labelCol)

  /** [[binaryAp]] over a PRE-AGGREGATED (score, p, ng) count table — the
    * same mergeable store the AUC monitor keeps, so a streaming AP rides
    * for free ([[binaryAucFromCounts]] contract: same-score rows combine,
    * NULL scores are excluded). */
  def binaryApFromCounts(counts: DataFrame): DataFrame =
    apByCounts(mergedScoreCounts(counts), Nil)

  private val ApReserved = Set("score", "p", "ng", "b", "bn", "bp", "off_n",
    "off_p", "pos_below", "all_below", "n", "n_pos", "n_neg", "ap_micro",
    "prevalence_micro", "__y", "__tp", "__tot", "__term", "__ts", "__mn", "__mx")

  /** [[binaryAp]] per key group — the PR-metric slice dashboard
    * ([[binaryAucBy]]'s companion, and the slice form that matters most:
    * class imbalance VARIES by slice, so a global AP hides exactly the
    * slices where AUC is most misleading). Same per-threshold-floor
    * quantization contract as the global form; per-key bucket widths,
    * every window partitioned by (keys) or (keys, b), the per-key totals
    * re-attach after the windows as a |keys|-row join — ZERO
    * SinglePartition anywhere. Complete-case on keys and scores. Output
    * (one row per group): keys…, n, n_pos, n_neg, ap_micro,
    * prevalence_micro. `keys = Nil` is [[binaryAp]]: one row, all zeros on
    * empty input.
    */
  def binaryApBy(df: DataFrame, keys: Seq[String], scoreCol: String,
      labelCol: String): DataFrame = {
    val nn = Keyed.guard(keys, ApReserved)
    apByCounts(scoreCounts(df, keys, scoreCol, labelCol, nn), keys)
  }

  /** The AP machinery over a (keys…, score, p, ng) count table with one
    * row per (keys, score) — shared by [[binaryApBy]], [[binaryApFromCounts]]
    * and the bootstrap resamples of [[binaryApCiBy]] (each resample id is
    * just one more key). */
  private def apByCounts(g: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ks = keys.map(col)
    val stats = g.groupBy(ks: _*)
      .agg(min(col("score")).as("__mn"), max(col("score")).as("__mx"),
        sum(col("p")).as("__tp"), sum(col("p") + col("ng")).as("__tot"))
    // narrow rows through the window sorts: only (score, p, ng, b) ride
    // the two-phase pass; the totals re-attach afterwards (measured 2.3×
    // on the 10M gate when mn/mx/tp/tot were carried through instead)
    val bucketed = g
      .join(Keyed.side(stats.select(ks :+ col("__mn") :+ col("__mx"): _*), keys), keys)
      .withColumn("b", expr("(score - __mn) DIV ((__mx - __mn) DIV 1024 + 1)"))
      .drop("__mn", "__mx")
    val wOff = Window.partitionBy(ks: _*).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(ks :+ col("b"): _*)
      .agg(sum(col("ng")).as("bn"), sum(col("p")).as("bp"))
      .withColumn("off_n", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .withColumn("off_p", coalesce(sum(col("bp")).over(wOff), lit(0L)))
      .select(ks ++ Seq(col("b"), col("off_n"), col("off_p")): _*)
    val wLoc = Window.partitionBy(ks :+ col("b"): _*).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(Keyed.side(offsets, keys), keys :+ "b")
      .withColumn("pos_below",
        col("off_p") + coalesce(sum(col("p")).over(wLoc), lit(0L)))
      .withColumn("all_below",
        col("pos_below") + col("off_n") +
          coalesce(sum(col("ng")).over(wLoc), lit(0L)))
      .join(Keyed.side(stats.select(ks :+ col("__tp") :+ col("__tot"): _*), keys), keys)
      // DECIMAL mult/div only on positive-bearing rows (p = 0 ⇒ term 0;
      // DECIMAL arithmetic is the hot cost at 10M distinct scores —
      // memory: ~10 s per 22M rows)
      .withColumn("__term",
        expr("""CASE WHEN p = 0 THEN 0 ELSE
                (CAST(1000000 AS DECIMAL(38,0)) * p * (__tp - pos_below))
                DIV (__tot - all_below) END"""))
      .groupBy(ks: _*)
      .agg(coalesce(sum(col("p")), lit(0L)).as("n_pos"),
        coalesce(sum(col("ng")), lit(0L)).as("n_neg"),
        coalesce(sum(col("__term").cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0))).as("__ts"))
      .select(ks ++ Seq(
        (col("n_pos") + col("n_neg")).as("n"), col("n_pos"), col("n_neg"),
        expr("""CASE WHEN n_pos = 0 THEN 0
                ELSE CAST(__ts DIV n_pos AS BIGINT) END""").as("ap_micro"),
        expr("""CASE WHEN n_pos + n_neg = 0 THEN 0
                ELSE CAST(CAST(1000000 AS DECIMAL(38,0)) * n_pos
                  DIV (n_pos + n_neg) AS BIGINT) END""")
          .as("prevalence_micro")): _*)
  }

  /** Poisson-weight expression of the deterministic md5-coin bootstrap:
    * row `id`, resample `__bs` → weight ~ Poisson(1), via a 60-bit
    * md5-prefix uniform compared against floor(CDF_k·2⁶⁰) literals
    * (k = 0..6, tail capped at 7 — P(>6) ≈ 8·10⁻⁵). Both engines evaluate
    * the SAME hash and the SAME integer thresholds, so every resample is
    * replayable bit-for-bit (the q60/q62 md5-coin discipline lifted to
    * weights). */
  private def poissonWeightSql(idExpr: String, bsExpr: String): String = {
    val h = s"CAST(CONV(SUBSTRING(MD5(CONCAT($idExpr, ':', $bsExpr)), 1, 15), 16, 10) AS BIGINT)"
    s"""CASE WHEN $h < 424136118829305329L THEN 0L
       |     WHEN $h < 848272237658610659L THEN 1L
       |     WHEN $h < 1060340297073263324L THEN 2L
       |     WHEN $h < 1131029650211480879L THEN 3L
       |     WHEN $h < 1148701988496035267L THEN 4L
       |     WHEN $h < 1152236456152946145L THEN 5L
       |     WHEN $h < 1152825534095764625L THEN 6L
       |     ELSE 7L END""".stripMargin
  }

  /** [[binaryAp]] with a bootstrap standard error and 95% CI — brings the
    * AP family to parity with [[binaryAucSe]]: without an interval, a
    * slice-AP difference can't be judged significant. AP has no DeLong-
    * style closed form, so the interval comes from a DETERMINISTIC
    * Poisson bootstrap (Poisson(1) weights approximate multinomial
    * resampling; standard at corpus n): `resamples` (default 64)
    * resampled APs, each row's weight in resample b an md5-coin of
    * (id, b) — engine-replayable, oracle-exact, no RNG state.
    *
    * Scale shape: the row side pays ONE map-side pass that expands each
    * row × `resamples` INSIDE the stage (hash + weight + partial agg —
    * CPU, not shuffle); shuffle volume is `resamples` × the distinct-
    * score table. Each resample then rides the [[binaryApBy]] keyed
    * machinery with the resample id as the key — per-resample windows,
    * zero SinglePartition; only the ≤`resamples`-row AP table crosses a
    * single partition for the variance sum. ap_micro per resample is the
    * exact-integer [[binaryAp]] contract; se6/lo6/hi6 are round-6 doubles
    * of the exact sums with identical expression text in both engines
    * (normal interval, clamped to [0, 1]). Complete-case on id and score.
    * Output (one row): n, n_pos, n_neg, ap_micro, prevalence_micro, b,
    * se6, lo6, hi6.
    *
    * Empty-input contract: EMPTY input returns ZERO rows — the point
    * estimate is a group of the shared keyed pass (resample −1), and an
    * empty input has no groups — unlike [[binaryAp]]/[[binaryAucSe]],
    * whose global aggregates emit one zero row. Deliberate: coalescing a
    * synthetic zero row here would fabricate b = 0 "bootstrap" metadata;
    * callers unioning the eval family over possibly-empty slices should
    * treat a missing row as "no data", same as [[binaryApCiBy]] does for
    * an absent key.
    *
    * `scoreBuckets` (default 0 = off, bit-identical to the original
    * contract) bounds the bootstrap's honest worst case: on TIE-FREE
    * scores the distinct-score table IS rows × (resamples+1) — inherent
    * to an exact bootstrap. A positive value quantizes scores FIRST
    * (equal-width buckets from a min/max pass — the [[binaryAuc]]
    * two-phase discipline; order-preserving, so only within-bucket
    * ranking detail is lost), capping shuffle volume at
    * (resamples+1) × scoreBuckets regardless of ties. The resulting
    * point estimate is the exact AP of the QUANTIZED scores (a
    * documented approximation of the raw-score AP), still fully
    * deterministic and oracle-replayable.
    */
  def binaryApCi(df: DataFrame, idCol: String, scoreCol: String,
      labelCol: String, resamples: Int = 64, scoreBuckets: Int = 0): DataFrame =
    binaryApCiBy(df, Nil, idCol, scoreCol, labelCol, resamples, scoreBuckets)

  /** Shared expansion of [[binaryApCiBy]]: base rows (keys…, __id, score,
    * __y) → one AP row per (keys…, __bs) with __bs = −1 carrying the
    * unweighted POINT estimate and __bs in [0, resamples) the md5-coin
    * Poisson resamples — one groupBy and one keyed-machinery pass for all
    * of them. */
  private def apCiResamples(base: DataFrame, keys: Seq[String],
      resamples: Int): DataFrame = {
    val ks = keys.map(col)
    // the ×(resamples+1) explode + per-coin md5 + partial aggregate all run
    // in the INPUT's map stage — a split-starved scan pins that CPU to one
    // core (r20 probe: q220's slowest stage was this, 1 task, 0.9 s).
    // Spread first; no-op on multi-split inputs (split-count gate).
    val spread = graft.core.Plans.ensureMinPartitions(base,
      base.sparkSession.sparkContext.defaultParallelism)
    val expanded = spread
      .withColumn("__bs", explode(sequence(lit(-1), lit(resamples - 1))))
      .withColumn("__w", expr(
        s"""CASE WHEN __bs = -1 THEN 1L ELSE
           |${poissonWeightSql("__id", "CAST(__bs AS STRING)")} END""".stripMargin))
    val counts = expanded
      .groupBy(ks ++ Seq(col("__bs"), col("score")): _*)
      .agg(sum(col("__w") * col("__y")).as("p"),
        sum(col("__w") * (lit(1L) - col("__y"))).as("ng"))
    // the count table is read by the extrema/total aggregate AND the
    // bucket-assignment join; persisting it runs the ×(resamples+1)
    // expansion and its groupBy exactly once — its size is the
    // distinct-score table, bounded by contract
    apByCounts(graft.core.CacheLife.scoped(counts.persist()), keys :+ "__bs")
  }

  /** [[binaryApCi]] per key group — "AP by slice ± CI", the honest form
    * of the q213 dashboard (slices differ 1000× in size; the point
    * dashboard hides exactly that). The bootstrap resample id joins the
    * user keys as one more key through the SAME keyed machinery — per-
    * (key, resample) windows, per-key variance over a ≤`resamples`-row
    * table per key, zero SinglePartition anywhere. Same determinism and
    * complete-case contract as the global form. Output (one row per
    * group): keys…, n, n_pos, n_neg, ap_micro, prevalence_micro, b, se6,
    * lo6, hi6. `keys = Nil` is [[binaryApCi]]: one row, none on empty
    * input.
    *
    * `scoreBuckets` is the keyed twin of [[binaryApCi]]'s knob: each key
    * buckets its OWN min/max (a global grid would alias slices with
    * different score ranges — the [[graft.operators.Profile.psiBy]]
    * precedent), capping the per-key distinct-score table at
    * (resamples+1) × scoreBuckets. Default 0 = off = bit-identical.
    */
  def binaryApCiBy(df: DataFrame, keys: Seq[String], idCol: String,
      scoreCol: String, labelCol: String, resamples: Int = 64,
      scoreBuckets: Int = 0): DataFrame = {
    require(resamples >= 2 && resamples <= 256,
      s"resamples must be in [2, 256], got $resamples")
    require(scoreBuckets == 0 || (scoreBuckets >= 2 && scoreBuckets <= 65536),
      s"scoreBuckets must be 0 (off) or in [2, 65536], got $scoreBuckets")
    val nn = Keyed.guard(keys, ApReserved ++ Set("__id", "__bs", "__w", "__sa",
      "__sa2", "se6", "lo6", "hi6"))
    val ks = keys.map(col)
    val base0 = df.select(ks :+ col(idCol).cast("string").as("__id") :+
        col(scoreCol).cast("long").as("score") :+ isPos(labelCol).as("__y"): _*)
      .where(col("score").isNotNull && col("__id").isNotNull && nn)
    val base = if (scoreBuckets == 0) base0 else {
      // quantize BEFORE the ×(resamples+1) expansion — the whole point of
      // the knob is that the min/max pass costs one scan while the
      // expansion's distinct-score table shrinks from rows to buckets
      val st = base0.groupBy(ks: _*)
        .agg(min(col("score")).as("__mn"), max(col("score")).as("__mx"))
      base0.join(Keyed.side(st, keys), keys)
        .withColumn("score",
          expr(s"(score - __mn) DIV ((__mx - __mn) DIV $scoreBuckets + 1)"))
        .drop("__mn", "__mx")
    }
    // the POINT estimate rides the same pass as resample −1 with weight 1
    // (its per-threshold terms equal binaryAp's exactly), so the whole
    // operator is ONE expansion + ONE keyed machinery run instead of two
    // pipelines — measured ~2× on the fixed per-stage overhead. The
    // ≤ |keys|·(resamples+1)-row result is persisted because BOTH the point
    // filter and the variance aggregate read it — otherwise each branch
    // re-runs the full expansion + keyed machinery
    val aps = graft.core.CacheLife.scoped(
      apCiResamples(base, keys, resamples).persist())
    val point = aps.filter(col("__bs") === -1).drop("__bs")
    val ci = aps.filter(col("__bs") >= 0)
      .groupBy(ks: _*)
      .agg(count(lit(1)).as("b"),
        coalesce(sum(col("ap_micro")), lit(0L)).as("__sa"),
        coalesce(sum(col("ap_micro") * col("ap_micro")), lit(0L)).as("__sa2"))
      .select(ks ++ Seq(col("b"),
        expr("""CASE WHEN b < 2 THEN 0.0 ELSE
                ROUND(SQRT(CAST(b * __sa2 - __sa * __sa AS DOUBLE)
                  / (CAST(b AS DOUBLE) * CAST(b - 1 AS DOUBLE)))
                  / 1000000.0, 6) END""").as("se6")): _*)
    point.join(Keyed.side(ci, keys), keys)
      .withColumn("lo6",
        expr("""ROUND(GREATEST(0.0, CAST(ap_micro AS DOUBLE) / 1000000.0
                - 1.959964 * se6), 6)"""))
      .withColumn("hi6",
        expr("""ROUND(LEAST(1.0, CAST(ap_micro AS DOUBLE) / 1000000.0
                + 1.959964 * se6), 6)"""))
      .select(ks ++ Seq(col("n"), col("n_pos"), col("n_neg"), col("ap_micro"),
        col("prevalence_micro"), col("b"), col("se6"), col("lo6"),
        col("hi6")): _*)
  }

  /** [[binaryAuc]] with the DeLong standard error and a 95% CI (DeLong,
    * DeLong & Clarke-Pearson 1988) — the difference between "AUC 0.71"
    * and "AUC 0.71 ± 0.04" is whether the eval set was big enough to act
    * on. The per-observation PLACEMENTS the estimator needs fall out of
    * the SAME two-phase cumulative machinery: every positive at score s
    * has doubled placement p2 = 2·negBelow + ngₛ (fraction of negatives
    * beaten, ties half), every negative r2 = 2·posAbove + pₛ — so the
    * variance components are three extra integer sums over the
    * distinct-score table, no second pass over rows:
    *   S10 = (nPos·Σp·p2² − (Σp·p2)²) / (4·nNeg²·nPos·(nPos−1))
    *   S01 = (nNeg·Σng·r2² − (Σng·r2)²) / (4·nPos²·nNeg·(nNeg−1))
    *   SE  = √(S10/nPos + S01/nNeg)
    * Integer sums ride DECIMAL(38,0) (p2 ≤ 2n ⇒ p·p2² ≤ 4n³); the final
    * SE/CI are round-6 doubles computed from the exact integers with the
    * IDENTICAL expression text in the oracle (same operand order ⇒ same
    * doubles). Degenerate inputs (nPos < 2 or nNeg < 2) report se6 0 and
    * lo6 = hi6 = the AUC; an empty or all-NULL-score input reports NULL
    * counts, auc_micro and se6, with lo6 0.0 and hi6 1.0 (the clamps
    * around the NULL estimate). Output (one row): n, n_pos, n_neg,
    * auc_micro, se6, lo6, hi6 (CI clamped to [0, 1]).
    */
  def binaryAucSe(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    binaryAucSeBy(df, Nil, scoreCol, labelCol)

  /** [[binaryAucSe]] per key group — the q202 slice dashboard upgraded to
    * intervals: "AUC by source ± CI" is the honest readout (a slice with
    * 300 rows and one with 3M get very different error bars; the point
    * dashboard hides that). The keyed placements come straight from
    * [[delongPlacements]] — NO row-level join (unlike the paired
    * compare: one scorer's variance needs only distinct-score sums), so
    * the whole statistic is keyed windows + one combinable grouped
    * aggregate — zero SinglePartition. Output (one row per group): keys…,
    * n, n_pos, n_neg, auc_micro, se6, lo6, hi6. `keys = Nil` is
    * [[binaryAucSe]]: one row, NULL counts on empty input.
    */
  def binaryAucSeBy(df: DataFrame, keys: Seq[String], scoreCol: String,
      labelCol: String): DataFrame = {
    val nn = Keyed.guard(keys, Set("score", "p", "ng", "b", "bn", "bp",
      "off_n", "off_p", "neg_below", "pos_below", "p2", "r2", "__tp", "__y",
      "n", "n_pos", "n_neg", "auc_micro", "se6", "lo6", "hi6", "a10", "b10",
      "a01", "b01", "__mn", "__mx"))
    val ks = keys.map(col)
    val pl = delongPlacements(df
      .select(ks :+ col(scoreCol).cast("long").as("score") :+
        isPos(labelCol).as("__y"): _*)
      .where(nn), keys)
    pl.groupBy(ks: _*)
      .agg(sum(col("p")).as("n_pos"), sum(col("ng")).as("n_neg"),
        coalesce(sum(col("p").cast(DecimalType(38, 0)) * col("p2")),
          lit(0).cast(DecimalType(38, 0))).as("a10"),
        coalesce(sum(col("p").cast(DecimalType(38, 0)) * col("p2") * col("p2")),
          lit(0).cast(DecimalType(38, 0))).as("b10"),
        coalesce(sum(col("ng").cast(DecimalType(38, 0)) * col("r2")),
          lit(0).cast(DecimalType(38, 0))).as("a01"),
        coalesce(sum(col("ng").cast(DecimalType(38, 0)) * col("r2") * col("r2")),
          lit(0).cast(DecimalType(38, 0))).as("b01"))
      .select(ks ++ Seq(
        (col("n_pos") + col("n_neg")).as("n"), col("n_pos"), col("n_neg"),
        expr("""CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
                ELSE CAST((CAST(1000000 AS DECIMAL(38,0)) * a10)
                  DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)
                END""").as("auc_micro"),
        col("a10"), col("b10"), col("a01"), col("b01")): _*)
      .withColumn("se6",
        expr("""CASE WHEN n_pos < 2 OR n_neg < 2 THEN 0.0 ELSE
                ROUND(SQRT(
                  CAST(n_pos * b10 - a10 * a10 AS DOUBLE)
                    / (4.0 * CAST(n_neg AS DOUBLE) * CAST(n_neg AS DOUBLE)
                       * CAST(n_pos AS DOUBLE) * CAST(n_pos - 1 AS DOUBLE)
                       * CAST(n_pos AS DOUBLE)) +
                  CAST(n_neg * b01 - a01 * a01 AS DOUBLE)
                    / (4.0 * CAST(n_pos AS DOUBLE) * CAST(n_pos AS DOUBLE)
                       * CAST(n_neg AS DOUBLE) * CAST(n_neg - 1 AS DOUBLE)
                       * CAST(n_neg AS DOUBLE))), 6) END"""))
      .withColumn("lo6",
        expr("""ROUND(GREATEST(0.0, CAST(auc_micro AS DOUBLE) / 1000000.0
                - 1.959964 * se6), 6)"""))
      .withColumn("hi6",
        expr("""ROUND(LEAST(1.0, CAST(auc_micro AS DOUBLE) / 1000000.0
                + 1.959964 * se6), 6)"""))
      .select(ks ++ Seq(col("n"), col("n_pos"), col("n_neg"),
        col("auc_micro"), col("se6"), col("lo6"), col("hi6")): _*)
  }

  /** Per-distinct-score DeLong placements for one scorer over rows
    * (keys…, score, __y): every positive at score s beats fraction
    * p2/(2·nNeg) of the negatives (doubled to stay integral:
    * p2 = 2·negBelow + ngₛ), every negative is beaten by r2/(2·nPos) of
    * the positives (r2 = 2·posAbove + pₛ). The two-phase cumulative
    * machinery of [[binaryAucBy]], windows partitioned by (keys) or
    * (keys, b); output one row per (keys, distinct score): keys…, score,
    * p, ng, p2, r2.
    */
  private def delongPlacements(scored: DataFrame,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ks = keys.map(col)
    val g = scored.where(col("score").isNotNull).groupBy(ks :+ col("score"): _*)
      .agg(sum(col("__y")).as("p"), sum(lit(1L) - col("__y")).as("ng"))
    val stats = g.groupBy(ks: _*)
      .agg(min(col("score")).as("__mn"), max(col("score")).as("__mx"),
        sum(col("p")).as("__tp"))
    val bucketed = g.join(Keyed.side(stats, keys), keys)
      .withColumn("b", expr("(score - __mn) DIV ((__mx - __mn) DIV 1024 + 1)"))
    val wOff = Window.partitionBy(ks: _*).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(ks :+ col("b"): _*)
      .agg(sum(col("ng")).as("bn"), sum(col("p")).as("bp"))
      .withColumn("off_n", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .withColumn("off_p", coalesce(sum(col("bp")).over(wOff), lit(0L)))
      .select(ks ++ Seq(col("b"), col("off_n"), col("off_p")): _*)
    val wLoc = Window.partitionBy(ks :+ col("b"): _*).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(Keyed.side(offsets, keys), keys :+ "b")
      .withColumn("neg_below",
        col("off_n") + coalesce(sum(col("ng")).over(wLoc), lit(0L)))
      .withColumn("pos_below",
        col("off_p") + coalesce(sum(col("p")).over(wLoc), lit(0L)))
      .select(ks ++ Seq(col("score"), col("p"), col("ng"),
        (col("neg_below") * 2 + col("ng")).as("p2"),
        ((col("__tp") - col("pos_below") - col("p")) * 2 + col("p")).as("r2")): _*)
  }

  /** Paired DeLong comparison of TWO scorers on the SAME eval rows
    * (DeLong et al. 1988, the correlated-AUC z-test) — the question a
    * retrieval upgrade actually asks: "is ranker A better than ranker B,
    * or is the gap noise?" An unpaired comparison wastes the shared
    * labels; the paired covariance term usually shrinks the SE several-
    * fold on correlated scorers.
    *
    * Per-OBSERVATION placements come from each scorer's distinct-score
    * placement map ([[delongPlacements]] — integral doubled values)
    * joined back to the rows, so the covariance components are five
    * exact DECIMAL(38,0) sums per label class; SE and z are round-6
    * doubles computed from those integers with identical expression text
    * in the oracle. SE = 0 (identical scorers, or degenerate classes)
    * reports z6 = 0. An empty or all-NULL-score input reports NULL counts,
    * AUCs and diff_micro with se6 = z6 = 0.0.
    *
    * Scale shape: two distinct-score maps (bounded like binaryAuc), two
    * hash joins of the rows against them (shuffle keys are the scores —
    * AQE broadcasts bounded maps), one combinable aggregate. Output
    * (one row): n, n_pos, n_neg, auc_a_micro, auc_b_micro, diff_micro,
    * se6, z6.
    */
  def binaryAucCompare(df: DataFrame, scoreACol: String, scoreBCol: String,
      labelCol: String): DataFrame =
    binaryAucCompareBy(df, Nil, scoreACol, scoreBCol, labelCol)

  /** The twelve paired-DeLong aggregate columns of [[binaryAucCompareBy]]:
    * class counts + ten DECIMAL(38,0) covariance sums. */
  private def compareAggCols: Seq[Column] = {
    def d(c: Column): Column = c.cast(DecimalType(38, 0))
    def sums(y: Int, sfx: String): Seq[Column] = Seq(
      coalesce(sum(when(col("__y") === y, d(col("ua")))), d(lit(0))).as(s"sa$sfx"),
      coalesce(sum(when(col("__y") === y, d(col("ua")) * col("ua"))), d(lit(0))).as(s"saa$sfx"),
      coalesce(sum(when(col("__y") === y, d(col("ub")))), d(lit(0))).as(s"sb$sfx"),
      coalesce(sum(when(col("__y") === y, d(col("ub")) * col("ub"))), d(lit(0))).as(s"sbb$sfx"),
      coalesce(sum(when(col("__y") === y, d(col("ua")) * col("ub"))), d(lit(0))).as(s"sab$sfx"))
    Seq(sum(col("__y")).as("n_pos"),
      sum(lit(1L) - col("__y")).as("n_neg")) ++ sums(1, "10") ++ sums(0, "01")
  }

  /** Paired-DeLong final projection from the [[compareAggCols]] sums to
    * (keys…, n, n_pos, n_neg, auc_a_micro, auc_b_micro, diff_micro, se6,
    * z6). */
  private def compareProjection(agg: DataFrame, ks: Seq[Column]): DataFrame =
    agg
      .select(ks ++ Seq(
        (col("n_pos") + col("n_neg")).as("n"), col("n_pos"), col("n_neg"),
        expr("""CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
                ELSE CAST((CAST(1000000 AS DECIMAL(38,0)) * sa10)
                  DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)
                END""").as("auc_a_micro"),
        expr("""CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
                ELSE CAST((CAST(1000000 AS DECIMAL(38,0)) * sb10)
                  DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)
                END""").as("auc_b_micro"),
        col("sa10"), col("saa10"), col("sb10"), col("sbb10"), col("sab10"),
        col("sa01"), col("saa01"), col("sb01"), col("sbb01"), col("sab01")): _*)
      .withColumn("diff_micro", col("auc_a_micro") - col("auc_b_micro"))
      .withColumn("se6",
        expr("""CASE WHEN n_pos < 2 OR n_neg < 2 THEN 0.0 ELSE
                ROUND(SQRT(GREATEST(0.0,
                  (CAST(n_pos * saa10 - sa10 * sa10 AS DOUBLE)
                   + CAST(n_pos * sbb10 - sb10 * sb10 AS DOUBLE)
                   - 2.0 * CAST(n_pos * sab10 - sa10 * sb10 AS DOUBLE))
                    / (4.0 * CAST(n_neg AS DOUBLE) * CAST(n_neg AS DOUBLE)
                       * CAST(n_pos AS DOUBLE) * CAST(n_pos - 1 AS DOUBLE)
                       * CAST(n_pos AS DOUBLE)) +
                  (CAST(n_neg * saa01 - sa01 * sa01 AS DOUBLE)
                   + CAST(n_neg * sbb01 - sb01 * sb01 AS DOUBLE)
                   - 2.0 * CAST(n_neg * sab01 - sa01 * sb01 AS DOUBLE))
                    / (4.0 * CAST(n_pos AS DOUBLE) * CAST(n_pos AS DOUBLE)
                       * CAST(n_neg AS DOUBLE) * CAST(n_neg - 1 AS DOUBLE)
                       * CAST(n_neg AS DOUBLE)))), 6) END"""))
      .withColumn("z6",
        expr("""CASE WHEN se6 <= 0.0 THEN 0.0
                ELSE ROUND((CAST(diff_micro AS DOUBLE) / 1000000.0) / se6, 6)
                END"""))
      .select(ks ++ Seq(col("n"), col("n_pos"), col("n_neg"),
        col("auc_a_micro"), col("auc_b_micro"), col("diff_micro"),
        col("se6"), col("z6")): _*)

  /** [[binaryAucCompare]] per key group — the A/B slice readout ("is
    * scorer A better than scorer B PER LANGUAGE / source / time bucket?")
    * composing the paired-DeLong z with the [[binaryAucBy]] keyed
    * two-phase discipline. Each scorer's distinct-score placement map is
    * built per key (every window partitioned by (keys) or (keys, b) —
    * ZERO SinglePartition anywhere), the rows join their placements back
    * on (keys, score), and the ten covariance sums aggregate grouped by
    * keys. Complete-case on keys and both scores (the [[binaryAucBy]]
    * contract, mirrored in oracles as explicit IS NOT NULL filters).
    *
    * Scale shape: shuffle keys are (keys, score) — distinct-score-sized
    * map sides, row-sized probes, one combinable grouped aggregate; slice
    * count only ADDS parallelism. Output (one row per group): keys…, n,
    * n_pos, n_neg, auc_a_micro, auc_b_micro, diff_micro, se6, z6.
    * `keys = Nil` is [[binaryAucCompare]]: one row, NULL counts on empty
    * input.
    */
  def binaryAucCompareBy(df: DataFrame, keys: Seq[String], scoreACol: String,
      scoreBCol: String, labelCol: String): DataFrame = {
    val nn = Keyed.guard(keys, Set("score", "p", "ng", "b", "bn", "bp",
      "off_n", "off_p", "neg_below", "pos_below", "sa", "sb", "ua", "ub",
      "p2", "r2", "__tp", "__y", "n", "n_pos", "n_neg", "__mn", "__mx"))
    val ks = keys.map(col)
    val base = df.select(ks ++ Seq(
        col(scoreACol).cast("long").as("sa"),
        col(scoreBCol).cast("long").as("sb"),
        isPos(labelCol).as("__y")): _*)
      .where(col("sa").isNotNull && col("sb").isNotNull && nn)
    val pa = delongPlacements(
        base.select(ks :+ col("sa").as("score") :+ col("__y"): _*), keys)
      .select(ks ++ Seq(col("score").as("sa"),
        col("p2").as("p2a"), col("r2").as("r2a")): _*)
    val pb = delongPlacements(
        base.select(ks :+ col("sb").as("score") :+ col("__y"): _*), keys)
      .select(ks ++ Seq(col("score").as("sb"),
        col("p2").as("p2b"), col("r2").as("r2b")): _*)
    val placed = base.join(pa, keys :+ "sa").join(pb, keys :+ "sb")
      .select(ks ++ Seq(col("__y"),
        when(col("__y") === 1L, col("p2a")).otherwise(col("r2a")).as("ua"),
        when(col("__y") === 1L, col("p2b")).otherwise(col("r2b")).as("ub")): _*)
    val aggCols = compareAggCols
    compareProjection(
      placed.groupBy(ks: _*).agg(aggCols.head, aggCols.tail: _*), ks)
  }

  /** [[binaryAuc]] per key group — the slice dashboard (AUC by source,
    * language, time bucket…). Same tie-corrected rank-free statistic and
    * quantization contract, but STRICTLY more parallel than the global
    * form: bucket widths come from per-key min/max, every window is
    * partitioned by (keys) or (keys, b), and the final aggregate groups
    * by keys — NO SinglePartition exchange anywhere, so slices never
    * funnel through one task no matter how many there are. The
    * bucket-offset join is keyed (≤ |groups|·1025 rows — AQE broadcasts
    * it when small). Complete-case on keys and scores. Output (one row
    * per group): keys…, n, n_pos, n_neg, auc_micro, gini_micro.
    * `keys = Nil` is [[binaryAuc]]: one row, all NULL on empty input.
    */
  def binaryAucBy(df: DataFrame, keys: Seq[String], scoreCol: String,
      labelCol: String): DataFrame = {
    val nn = Keyed.guard(keys, Set("score", "p", "ng", "b", "bn", "off_n",
      "neg_below", "num2", "n", "n_pos", "n_neg", "auc_micro", "gini_micro",
      "__y", "__mn", "__mx"))
    aucByCounts(scoreCounts(df, keys, scoreCol, labelCol, nn), keys)
  }

  /** The AUC machinery over a (keys…, score, p, ng) count table with one
    * row per (keys, score): per-key equal-width buckets
    * b = (score − mn) DIV w, w sized so ≤1024 buckets cover [mn, mx]. */
  private def aucByCounts(g: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ks = keys.map(col)
    val stats = g.groupBy(ks: _*)
      .agg(min(col("score")).as("__mn"), max(col("score")).as("__mx"))
    val bucketed = g.join(Keyed.side(stats, keys), keys)
      .withColumn("b",
        expr("(score - __mn) DIV ((__mx - __mn) DIV 1024 + 1)"))
      .drop("__mn", "__mx")
    val wOff = Window.partitionBy(ks: _*).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(ks :+ col("b"): _*)
      .agg(sum(col("ng")).as("bn"))
      .withColumn("off_n", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .select(ks :+ col("b") :+ col("off_n"): _*)
    val wLoc = Window.partitionBy(ks :+ col("b"): _*).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = bucketed.join(Keyed.side(offsets, keys), keys :+ "b")
      .withColumn("neg_below",
        col("off_n") + coalesce(sum(col("ng")).over(wLoc), lit(0L)))
    cum.groupBy(ks: _*)
      .agg(sum(col("p")).as("n_pos"), sum(col("ng")).as("n_neg"),
        coalesce(sum(col("p").cast(DecimalType(38, 0)) *
          (col("neg_below") * 2 + col("ng"))), lit(0).cast(DecimalType(38, 0)))
          .as("num2"))
      .select(ks ++ Seq(
        (col("n_pos") + col("n_neg")).as("n"), col("n_pos"), col("n_neg"),
        expr("""CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
                ELSE CAST((CAST(1000000 AS DECIMAL(38,0)) * num2)
                  DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)
                END""").as("auc_micro")): _*)
      .withColumn("gini_micro", col("auc_micro") * 2 - 1000000L)
  }

  // -------------------------------------------------------- calibration

  /** Probability-calibration report over integer micro-unit scores
    * (0..10⁶): equal-width confidence bins, each reporting support,
    * positives, mean confidence and empirical accuracy, plus the global
    * Brier score and Expected Calibration Error (Naeini et al. 2015)
    * repeated on every row (the q155 hhi_micro convention — the scalar
    * rides the per-bin table instead of a second result set).
    *
    * All arithmetic is exact integer: conf = Σprob DIV n per bin,
    * acc = pos·10⁶ DIV n, ece = Σ_b n_b·|acc_b − conf_b| DIV n,
    * brier = Σ(prob − y·10⁶)² DIV (n·10⁶) with the squared sum carried
    * as DECIMAL(38,0) (10¹² per row breaches BIGINT past ~9M rows).
    *
    * Scale shape: ONE map-side-combinable groupBy over ≤ `bins` buckets
    * carrying both the per-bin and the global sums (grouping sets would
    * rescan; a crossJoin of two aggs would double-scan) — a bins-row
    * broadcast closes ECE. No window, no row-level state.
    */
  def calibrationReport(df: DataFrame, probMicroCol: String,
      labelCol: String, bins: Int = 10): DataFrame =
    calibrationReportBy(df, Nil, probMicroCol, labelCol, bins)

  /** Per-bin calibration count deltas (bin, n, n_pos, spm, sq) — the
    * mergeable store unit behind [[calibrationReport]] and the streaming
    * calibration monitor: deltas from disjoint batches SUM per bin to the
    * whole-data counts (the group homomorphism the AUC/KS/χ² monitors
    * ride), so the report recomputes exactly without re-reading rows.
    * State is ≤ `bins` rows no matter the corpus. `bins` must be held
    * constant across merged delta sets — it defines the bin ids. */
  def calibrationBinCounts(df: DataFrame, probMicroCol: String,
      labelCol: String, bins: Int): DataFrame =
    binCounts(df, Nil, probMicroCol, labelCol, bins, lit(true))

  /** (keys…, bin, n, n_pos, spm, sq) per non-empty (key, bin) — the
    * [[calibrationBinCounts]] store, keyed. Complete-case: a null
    * probability would land in a null bin while still counting toward n. */
  private def binCounts(df: DataFrame, keys: Seq[String], probMicroCol: String,
      labelCol: String, bins: Int, nn: Column): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val ks = keys.map(col)
    df.select(ks :+ col(probMicroCol).cast("long").as("pm") :+
        isPos(labelCol).as("__y"): _*)
      .where(col("pm").isNotNull && nn)
      // clamp BOTH edges: the documented domain is 0..10⁶, but an
      // out-of-range input must land in the edge bin, not a negative or
      // overflow bin id (ADVICE r15 — only the top edge was clamped)
      .withColumn("bin", greatest(
        least(expr(s"pm * $bins DIV 1000000"), lit(bins - 1L)), lit(0L)))
      .groupBy(ks :+ col("bin"): _*)
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(col("pm")).as("spm"),
        sum(((col("pm") - col("__y") * 1000000L).cast(DecimalType(38, 0)) *
          (col("pm") - col("__y") * 1000000L))).as("sq"))
  }

  /** [[calibrationReport]] over PRE-AGGREGATED [[calibrationBinCounts]]
    * deltas — rows with the same bin combine, so a batch-delta store may
    * carry duplicates (the [[binaryAucFromCounts]] contract). */
  def calibrationReportFromCounts(counts: DataFrame): DataFrame =
    calibrationByCounts(counts, Nil)

  /** The report over a (keys…, bin, n, n_pos, spm, sq) count table; rows
    * with the same (keys, bin) combine. */
  private def calibrationByCounts(counts: DataFrame,
      keys: Seq[String]): DataFrame = {
    val ks = keys.map(col)
    val perBin = counts.groupBy(ks :+ col("bin"): _*)
      .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"),
        sum(col("spm")).as("__spm"),
        sum(col("sq").cast(DecimalType(38, 0))).as("__sq"))
      .withColumn("conf_micro", expr("__spm DIV n"))
      .withColumn("acc_micro", expr("n_pos * 1000000 DIV n"))
    val glob = perBin.groupBy(ks: _*).agg(
      sum(col("n")).as("__nt"),
      coalesce(sum(col("__sq")), lit(0).cast(DecimalType(38, 0))).as("__sqt"),
      coalesce(sum(col("n") * abs(col("acc_micro") - col("conf_micro"))),
        lit(0L)).as("__ed"))
      .select(ks ++ Seq(
        expr("CAST(__sqt DIV (CAST(__nt AS DECIMAL(38,0)) * 1000000) AS BIGINT)")
          .as("brier_micro"),
        expr("__ed DIV __nt").as("ece_micro")): _*)
    perBin.join(Keyed.side(glob, keys), keys)
      .select(ks ++ Seq(col("bin"), col("n"), col("n_pos"), col("conf_micro"),
        col("acc_micro"), col("brier_micro"), col("ece_micro")): _*)
  }

  /** [[calibrationReport]] per key group — the reliability slice
    * dashboard completing the keyed eval family (q202 AUC / q206 KS /
    * q208 isotonic / q209 paired-z slices): per-key bins, per-key
    * Brier/ECE, every aggregate and join keyed — no window, no
    * SinglePartition; the per-key scalar join side is ≤ |keys| rows (AQE
    * broadcasts it). Complete-case on keys and probabilities. Output
    * (one row per non-empty (key, bin)): keys…, bin, n, n_pos,
    * conf_micro, acc_micro, brier_micro, ece_micro — the per-key scalars
    * ride every row of their key (the q155 hhi_micro convention).
    * `keys = Nil` is [[calibrationReport]]: no rows on empty input.
    */
  def calibrationReportBy(df: DataFrame, keys: Seq[String],
      probMicroCol: String, labelCol: String, bins: Int = 10): DataFrame = {
    val nn = Keyed.guard(keys, Set("pm", "bin", "n", "n_pos", "spm", "sq",
      "conf_micro", "acc_micro", "brier_micro", "ece_micro", "__spm", "__sq",
      "__nt", "__sqt", "__ed", "__y"))
    calibrationByCounts(
      binCounts(df, keys, probMicroCol, labelCol, bins, nn), keys)
  }

  // ----------------------------------------------------------- isotonic

  /** Per-bin aggregates feeding [[pavFit]]: equal-width bins over integer
    * micro-unit probabilities, each with support, positives, and mean
    * confidence — ONE map-side-combinable groupBy over ≤ `bins` rows
    * (the [[calibrationReport]] shape). Empty bins are simply absent. */
  def isotonicBins(df: DataFrame, probMicroCol: String, labelCol: String,
      bins: Int): DataFrame =
    isotonicBinsBy(df, Nil, probMicroCol, labelCol, bins, lit(true))

  /** [[isotonicBins]] per (keys…, bin), complete-case on keys and
    * probabilities: keys…, bin, n, n_pos, conf_micro. */
  private def isotonicBinsBy(df: DataFrame, keys: Seq[String],
      probMicroCol: String, labelCol: String, bins: Int,
      nn: Column): DataFrame = {
    require(bins >= 2 && bins <= 65536, s"bins must be in [2, 65536], got $bins")
    val ks = keys.map(col)
    df.select(ks :+ col(probMicroCol).cast("long").as("pm") :+
        isPos(labelCol).as("__y"): _*)
      .where(col("pm").isNotNull && nn)
      // both-edge clamp (the calibrationReport contract)
      .withColumn("bin", greatest(
        least(expr(s"pm * $bins DIV 1000000"), lit(bins - 1L)), lit(0L)))
      .groupBy(ks :+ col("bin"): _*)
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(col("pm")).as("__spm"))
      .withColumn("conf_micro", expr("__spm DIV n"))
      .drop("__spm")
  }

  /** Pool-Adjacent-Violators over ascending (bin, n, n_pos) rows (Ayer et
    * al. 1955; the isotonic-regression fit scikit-learn calls on the same
    * shape): merge adjacent blocks while an earlier block's positive rate
    * exceeds a later one's — rate comparison in exact cross-multiplied
    * integers, never floats — then every bin reports its pooled block's
    * rate as ⌊10⁶·pos/n⌋. The result is non-decreasing by construction.
    * Pure driver function over the ≤ `bins`-row aggregate (the bounded-
    * collect contract: the INPUT rows never exceed the bin count, no
    * matter the corpus size).
    */
  def pavFit(binRows: Seq[(Long, Long, Long)]): Seq[(Long, Long)] = {
    val sorted = binRows.sortBy(_._1)
    // stack of pooled blocks: (firstIdx, n, pos)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    sorted.zipWithIndex.foreach { case ((_, n, pos), i) =>
      var (fi, bn, bp) = (i, n, pos)
      while (blocks.nonEmpty && {
        val (_, pn, pp) = blocks.last
        // prev rate > cur rate ⇒ violation. BigInt: pooled-block counts
        // beyond ~3e9 rows would overflow a raw Long cross-multiply and
        // silently invert the comparison (ADVICE r15); the bin count is
        // bounded, so the promotion costs nothing.
        BigInt(pp) * BigInt(bn) > BigInt(bp) * BigInt(pn)
      }) {
        val (pfi, pn, pp) = blocks.remove(blocks.size - 1)
        fi = pfi; bn += pn; bp += pp
      }
      blocks += ((fi, bn, bp))
    }
    // blocks sit in ascending first-index order; each covers [fi, next.fi)
    val cal = new Array[Long](sorted.size)
    val bounds = blocks.map(_._1).drop(1) :+ sorted.size
    blocks.zip(bounds).foreach { case ((fi, bn, bp), until) =>
      val v = bp * 1000000L / bn
      (fi until until).foreach(cal(_) = v)
    }
    sorted.map(_._1).zip(cal.toSeq)
  }

  /** Isotonic (PAV) probability calibration over integer micro-unit
    * scores: [[isotonicBins]] → bounded collect → [[pavFit]] → the
    * fitted step function joins back onto the bin table as a broadcast
    * ≤ `bins`-row literal map. The monotone fit is the driver-side part
    * (spec-gated closed forms); everything data-sized stays one
    * map-side-combinable groupBy. Output (one row per non-empty bin):
    * bin, n, n_pos, conf_micro, iso_micro — with iso_micro non-decreasing
    * in bin.
    */
  def isotonicCalibrate(df: DataFrame, probMicroCol: String,
      labelCol: String, bins: Int = 32): DataFrame =
    isotonicCalibrateBy(df, Nil, probMicroCol, labelCol, bins)

  /** Rebuild a COLLECTED [[isotonicBins]] table (bin, n, n_pos,
    * conf_micro) as a local DataFrame with its [[pavFit]] step attached —
    * the single-scan output side of [[isotonicCalibrate]] and the q204 /
    * q208 queries (bounded-collect contract: ≤ bins·|keys| rows). */
  def isotonicFromCollected(spark: SparkSession,
      rows: Seq[(Long, Long, Long, Long)],
      fitted: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val fm = fitted.toMap
    rows.map { case (b, n, p, c) => (b, n, p, c, fm(b)) }
      .toDF("bin", "n", "n_pos", "conf_micro", "iso_micro")
  }

  /** Attach a [[pavFit]] step function back onto an [[isotonicBins]]
    * table as a broadcast literal map — split out so callers that need
    * the fitted values themselves (the q204 dynamic oracle) run the
    * identical pipeline instead of a copy. */
  def isotonicApply(agg: DataFrame, fitted: Seq[(Long, Long)]): DataFrame = {
    val spark = agg.sparkSession
    import spark.implicits._
    agg.join(broadcast(fitted.toDF("bin", "iso_micro")), Seq("bin"))
      .select(col("bin"), col("n"), col("n_pos"), col("conf_micro"),
        col("iso_micro"))
  }

  /** [[isotonicCalibrate]] per key group — the calibration sibling of the
    * q202/q206 slice dashboards: one independent PAV fit per key
    * (per-language / per-source calibration is the form a curation
    * pipeline actually consumes — a global fit hides a slice whose scores
    * drifted). The per-key bin tables come from ONE map-side-combinable
    * groupBy(keys, bin) — no window, no SinglePartition anywhere; the
    * driver loop runs over the bounded collected (key × ≤bins) table
    * with an EXPLICIT row cap that fails loudly (reduce bins, coarsen
    * keys, or raise the cap) instead of silently OOMing the driver, and
    * the output rebuilds from the same collected rows (single corpus
    * scan — the [[isotonicCalibrate]] ADVICE-r15 contract). Complete-case
    * on keys and probabilities. Output (one row per non-empty (key,
    * bin)): keys…, bin, n, n_pos, conf_micro, iso_micro — iso_micro
    * non-decreasing in bin WITHIN each key. `keys = Nil` is
    * [[isotonicCalibrate]]: no rows on empty input.
    */
  def isotonicCalibrateBy(df: DataFrame, keys: Seq[String],
      probMicroCol: String, labelCol: String, bins: Int = 32,
      maxCollect: Int = 1 << 20): DataFrame = {
    val nn = Keyed.guard(keys, Set("pm", "bin", "n", "n_pos", "conf_micro",
      "iso_micro", "__spm", "__y"))
    // ONE corpus scan: collect the bounded bin table, fit driver-side,
    // and rebuild the output from the COLLECTED rows — joining the
    // uncached agg plan would re-run the corpus aggregation a second
    // time (ADVICE r15)
    val agg = isotonicBinsBy(df, keys, probMicroCol, labelCol, bins, nn)
    val collected = agg.limit(maxCollect + 1).collect()
    require(collected.length <= maxCollect,
      s"isotonicCalibrateBy would collect more than $maxCollect (key × bin) " +
        "rows — reduce bins, coarsen the keys, or raise maxCollect")
    val kw = keys.length
    val fitted: Map[Seq[Any], Map[Long, Long]] = collected
      .groupBy(r => (0 until kw).map(r.get).toSeq)
      .map { case (k, rs) =>
        k -> pavFit(rs.toSeq.map(r =>
          (r.getLong(kw), r.getLong(kw + 1), r.getLong(kw + 2)))).toMap
      }
    val outRows = collected.map { r =>
      val k = (0 until kw).map(r.get).toSeq
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ fitted(k)(r.getLong(kw)))
    }
    df.sparkSession.createDataFrame(java.util.Arrays.asList(outRows: _*),
      agg.schema.add("iso_micro",
        org.apache.spark.sql.types.LongType, nullable = false))
  }

  // ------------------------------------------------------- Krippendorff

  /** Krippendorff's alpha (nominal metric, Krippendorff 2004) over long-
    * format annotations — one row per (unit, rater observation), raters
    * anonymous, any number of raters per unit. The generalization of
    * [[agreementKappa]] beyond two fixed raters.
    *
    * Exact-integer quantization contract: each unit with m ≥ 2
    * observations contributes its pairwise disagreement scaled to micro
    * units with a PER-UNIT floor — 10⁶·(m² − Σ_c cnt_c²) DIV (m − 1) —
    * summed into Do·n·10⁶ (the m² − Σcnt² identity counts ordered
    * disagreeing pairs, so no c≠k double loop materializes). Expected
    * disagreement uses value totals over included units only:
    * de_micro = 10⁶·(n² − Σ_c n_c²) DIV (n·(n−1)), both squares in
    * DECIMAL(38,0). alpha_micro = 10⁶ − do_micro·10⁶ DIV de_micro — every
    * division is on non-negatives, so floor = truncate in both engines.
    * Units with m < 2 are excluded (they carry no pair information);
    * de = 0 (all observations one value) reports alpha_micro = 0.
    *
    * Scale shape: one (unit, value) groupBy (map-side combinable, ≤ one
    * row per distinct pair), one per-unit rollup, one |values|-row total —
    * no window, no broadcast of anything unit-sized.
    * Output (one row): n_units, n, do_micro, de_micro, alpha_micro.
    */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
      valueCol: String): DataFrame = {
    val cnt = df.groupBy(col(unitCol).as("u"), col(valueCol).as("v"))
      .agg(count(lit(1)).as("c"))
    val perUnit = cnt.groupBy(col("u"))
      .agg(sum(col("c")).as("m"), sum(col("c") * col("c")).as("ss"))
      .filter(col("m") >= 2)
    val doNum = perUnit.agg(
      count(lit(1)).as("n_units"),
      coalesce(sum(col("m")), lit(0L)).as("n"),
      coalesce(sum(expr("1000000 * (m * m - ss) DIV (m - 1)")), lit(0L))
        .as("__dn"))
    val nc = cnt.join(perUnit.select(col("u")), Seq("u"))
      .groupBy(col("v")).agg(sum(col("c")).as("n_c"))
    val sq = nc.agg(coalesce(sum(col("n_c").cast(DecimalType(38, 0)) *
      col("n_c")), lit(0).cast(DecimalType(38, 0))).as("__ncsq"))
    doNum.crossJoin(sq) // 1×1
      .withColumn("do_micro",
        expr("CASE WHEN n = 0 THEN 0 ELSE __dn DIV n END"))
      .withColumn("de_micro",
        expr("""CASE WHEN n < 2 THEN 0 ELSE
                CAST((CAST(1000000 AS DECIMAL(38,0)) *
                  (CAST(n AS DECIMAL(38,0)) * n - __ncsq))
                  DIV (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT) END"""))
      .withColumn("alpha_micro",
        expr("""CASE WHEN de_micro = 0 THEN 0
                ELSE 1000000 - do_micro * 1000000 DIV de_micro END"""))
      .select(col("n_units"), col("n"), col("do_micro"), col("de_micro"),
        col("alpha_micro"))
  }
}
