package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy string matching and banded Hamming near-dup — the record-linkage
  * tier between exact dedup (hash equality) and semantic dedup (embedding
  * cosine): edit-distance joins for entity resolution over titles/names,
  * and Hamming-ball search over perceptual/SimHash fingerprints.
  *
  * Scale shape: NEVER all-pairs. Edit-distance joins shuffle on a cheap
  * blocking key (candidates only meet inside a block; recall loss is the
  * documented blocking trade, identical in the oracle), and Hamming joins
  * band the fingerprint so only same-band-value hashes pair. Both are
  * plain equi-joins underneath — Catalyst shuffles each side once on the
  * band/block key, and the verify predicate (thresholded levenshtein /
  * bit_count(xor)) runs inside whole-stage codegen on candidate rows only.
  */
object Fuzzy {

  /** Sink for the sortedNeighborhoodBy broadcast-fallback warning — a
    * package-private hook so FuzzySpec can assert the fallback is LOUD
    * (a silent shuffled join is correct but hides a mis-set bucketing).
    * Production default: slf4j warn. */
  private[graft] var onBroadcastFallback: String => Unit =
    msg => org.slf4j.LoggerFactory.getLogger(Fuzzy.getClass).warn(msg)

  /** Jaro-Winkler similarity, bit-compatible with DuckDB's
    * `jaro_winkler_similarity` (verified exhaustively against it over the
    * corpus vocabulary): empty strings score 0 even against themselves,
    * match window `max(len)/2 - 1`, transpositions halved, Winkler prefix
    * boost (≤4 chars, weight 0.1) only above the 0.7 threshold, and the
    * exact float evaluation order `(m/l1 + m/l2 + (m-t)/m) / 3` then
    * `j + p·0.1·(1-j)` — the order matters for the oracle's value hash.
    */
  object JaroWinkler extends Serializable {
    def similarity(s1: String, s2: String): Double = {
      val l1 = s1.length
      val l2 = s2.length
      if (l1 == 0 || l2 == 0) return 0.0
      if (s1 == s2) return 1.0
      val win = math.max(math.max(l1, l2) / 2 - 1, 0)
      val m1 = new Array[Boolean](l1)
      val m2 = new Array[Boolean](l2)
      var m = 0
      var i = 0
      while (i < l1) {
        val lo = math.max(0, i - win)
        val hi = math.min(l2, i + win + 1)
        var j = lo
        var done = false
        while (j < hi && !done) {
          if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
            m1(i) = true; m2(j) = true; m += 1; done = true
          }
          j += 1
        }
        i += 1
      }
      if (m == 0) return 0.0
      var t = 0
      var k = 0
      i = 0
      while (i < l1) {
        if (m1(i)) {
          while (!m2(k)) k += 1
          if (s1.charAt(i) != s2.charAt(k)) t += 1
          k += 1
        }
        i += 1
      }
      t /= 2
      val j0 = (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3.0
      if (j0 > 0.7) {
        var p = 0
        val lim = math.min(4, math.min(l1, l2))
        while (p < lim && s1.charAt(p) == s2.charAt(p)) p += 1
        j0 + p * 0.1 * (1 - j0)
      } else j0
    }
  }

  /** Sub-block fan-out cap: a block pathological enough to ask for more
    * sub-blocks than this replicates the b side too far — beyond the cap,
    * per-task work degrades gracefully instead of the row count exploding. */
  private val SaltCap = 1024

  /** Skew-resistant block join core shared by the self-join and linkage
    * variants. One cheap block-cardinality aggregation per side decides a
    * per-block fan-out `ns = ceil(|a_blk|·|b_blk| / threshold²)` (capped
    * at [[SaltCap]]): side a takes `salt = hash(str) % ns`, side b
    * replicates to every salt, and the join key becomes (block, salt) —
    * so a hot block's quadratic candidate work spreads over `ns` reducers
    * at ≈ threshold² comparisons each, instead of landing on ONE. Each
    * candidate pair meets exactly once (on the salt of its a-side
    * element), so the result is row-identical to the plain block join.
    * Blocks under the budget get ns = 1 — a plain equi-join row, the
    * [[SkewJoin]] philosophy applied per-block with a data-derived
    * fan-out rather than a global constant.
    */
  private def saltedBlockJoin(a: DataFrame, b: DataFrame,
      hotBlockThreshold: Int): DataFrame = {
    require(hotBlockThreshold > 0, "hotBlockThreshold must be positive")
    val budget = hotBlockThreshold.toDouble * hotBlockThreshold
    val an = a.groupBy(col("__blk")).agg(count(lit(1)).as("__an"))
    val bn = b.groupBy(col("__blk")).agg(count(lit(1)).as("__bn"))
    // double arithmetic is fine here: ns only PLANS the fan-out, the pair
    // set is identical for every ns ≥ 1
    val szs = an.join(bn, Seq("__blk"))
      .select(col("__blk"),
        least(lit(SaltCap),
          greatest(lit(1),
            ceil(col("__an").cast("double") * col("__bn") / budget)))
          .cast("int").as("__ns"))
    val aS = a.join(szs, "__blk")
      .withColumn("__salt", pmod(xxhash64(col("str_a")), col("__ns")).cast("int"))
      .drop("__ns")
    val bS = b.join(szs, "__blk")
      .withColumn("__salt", explode(sequence(lit(0), col("__ns") - 1)))
      .drop("__ns")
    // EXPLICIT user repartition on the salted key, at the session's
    // shuffle parallelism: AQE's coalescer sizes partitions by shuffle
    // BYTES, and a hot block's sub-blocks are tiny by bytes while
    // quadratic by join OUTPUT — left to AQE they re-coalesce onto one
    // partition and the salting is undone (measured: no speedup at all).
    // A user-specified partition count is exempt from AQE coalescing, and
    // HashPartitioning(__blk, __salt) satisfies the join's distribution
    // requirement, so no second exchange appears.
    val p = a.sparkSession.sessionState.conf.numShufflePartitions
    aS.repartition(p, col("__blk"), col("__salt"))
      .join(bS.repartition(p, col("__blk"), col("__salt")), Seq("__blk", "__salt"))
      .drop("__salt")
  }

  /** Blocked edit-distance self-join: rows of `strings` (`blkCol` blocking
    * key, `strCol` value) pair only within a block; kept when
    * `levenshtein ≤ maxDist`, with the distance and the Jaro-Winkler score
    * of each surviving pair. The levenshtein runs in its THRESHOLDED form
    * (Spark's 3-arg variant) so far-apart candidates abandon after
    * `maxDist+1` diagonal rows instead of filling the full DP matrix.
    *
    * At 100 TB: one shuffle of (block, string) per side; block-key
    * cardinality bounds parallelism and block size bounds the quadratic
    * candidate work — pick keys (prefix, phonetic code, join attribute)
    * that keep blocks ≪ √(rows/blocks). Pathological hot blocks are
    * salted AUTOMATICALLY by [[saltedBlockJoin]]: `hotBlockThreshold` is
    * the per-reducer candidate budget's square root (default 5000 ≈ 25M
    * thresholded comparisons per task).
    */
  def blockedLevenshteinPairs(strings: DataFrame, blkCol: String,
      strCol: String, maxDist: Int, hotBlockThreshold: Int = 5000): DataFrame =
    levenshteinLinks(strings, strings, blkCol, strCol, maxDist,
      hotBlockThreshold, col("str_a") < col("str_b"))

  /** Two-table record linkage — the A×B variant of
    * [[blockedLevenshteinPairs]]: rows of `left` and `right` (each with
    * `blkCol`, `strCol`) pair only within a shared block, kept at
    * `levenshtein ≤ maxDist` with the distance and Jaro-Winkler score.
    * Unlike the self-join there is no `a < b` dedup — every surviving
    * (left, right) link is reported once. Same scale shape (one shuffle
    * per side on the block key) and the same automatic hot-block salting.
    */
  def blockedLevenshteinJoin(left: DataFrame, right: DataFrame, blkCol: String,
      strCol: String, maxDist: Int, hotBlockThreshold: Int = 5000): DataFrame =
    levenshteinLinks(left, right, blkCol, strCol, maxDist, hotBlockThreshold, lit(true))

  /** The one body of both joins. `keep` filters the candidate pairs BEFORE
    * the thresholded levenshtein, so it leads the join condition: the
    * self-join's `str_a < str_b` skips half of the DP work. */
  private def levenshteinLinks(left: DataFrame, right: DataFrame, blkCol: String,
      strCol: String, maxDist: Int, hotBlockThreshold: Int, keep: Column): DataFrame = {
    val a = left.select(col(blkCol).as("__blk"), col(strCol).as("str_a")).distinct()
    val b = right.select(col(blkCol).as("__blk"), col(strCol).as("str_b")).distinct()
    saltedBlockJoin(a, b, hotBlockThreshold)
      .filter(keep)
      .withColumn("lev_dist", levenshtein(col("str_a"), col("str_b"), maxDist))
      .filter(col("lev_dist") >= 0)
      .select(col("str_a"), col("str_b"), col("lev_dist"),
        round(expr("jaro_winkler(str_a, str_b)"), 6).as("jw_sim"))
  }

  /** Banded Hamming near-dup over `bits`-wide fingerprints (`idCol`,
    * `hashCol`): hashes pair when some band value matches, confirmed at
    * `bit_count(xor) ≤ maxHamming`. Bands take bit-INTERLEAVED subsets
    * (band i gets bits j with j % bands == i) — adjacent fingerprint bits
    * are spatially correlated (neighboring gradient signs), so contiguous
    * bands concentrate the population into a few values; interleaving
    * measured 1587 → 69 max-bucket and 28× fewer candidates on the
    * documents corpus. `bands > maxHamming` makes recall EXACT by
    * pigeonhole: ≤ maxHamming differing bits cannot touch every band, so
    * some band matches untouched.
    *
    * Output: one row per near-dup hash pair `(hash_a, hash_b, hamming)`.
    * Callers should pre-group identical hashes (exact-dup cliques pair
    * O(n²) otherwise) and re-attach group sizes afterward.
    */
  /** ONE band-family implementation for both fingerprint widths: the
    * value of band `bi` over a fingerprint spanning `hashCols` BIGINT
    * words (`bits` total, global bit j lives in word j/64 at in-word
    * position j%64), taking bit-interleaved subsets (band i gets bits j
    * with j % bands == i, packed densely). The narrow and wide join paths
    * and the streaming fingerprint store all band through here, so band
    * values can never drift between them. */
  private def bandValue(hashCols: Seq[String], bits: Int, bands: Int,
      bi: Int): Column =
    (0 until (bits - bi + bands - 1) / bands).map { k =>
      val j = bands * k + bi
      shiftleft(shiftright(col(hashCols(j / 64)), j % 64).bitwiseAND(lit(1L)), k)
    }.reduce(_ + _)

  /** Explode each row into `bands` rows carrying (`__bi`, `__bv`): the
    * band index and the band's bit-INTERLEAVED value. All input columns
    * pass through — the shared banding of [[hammingNearDupPairs]] and the
    * streaming fingerprint store (band values admitted to the store must
    * be computed identically across batches). */
  def bandedHashes(hashes: DataFrame, hashCol: String, bits: Int,
      bands: Int): DataFrame = {
    require(bits <= 64, s"$bits bits exceed one word — use bandedHashesWide")
    banded(hashes, Seq(hashCol), bits, bands)
  }

  /** Multi-word twin of [[bandedHashes]] for fingerprints spanning
    * several BIGINT columns — same band family (global bit j → band
    * j % bands), same output contract. */
  def bandedHashesWide(hashes: DataFrame, hashCols: Seq[String],
      bands: Int): DataFrame =
    banded(hashes, hashCols, 64 * hashCols.size, bands)

  private def banded(hashes: DataFrame, hashCols: Seq[String], bits: Int,
      bands: Int): DataFrame = {
    require(bands <= bits, s"more bands ($bands) than bits ($bits)")
    hashes.withColumn("__b", explode(array((0 until bands).map(bi =>
        struct(lit(bi).as("bi"), bandValue(hashCols, bits, bands, bi).as("bv"))): _*)))
      .withColumn("__bi", col("__b.bi"))
      .withColumn("__bv", col("__b.bv"))
      .drop("__b")
  }

  /** The shared banded-join core: rows carrying the fingerprint as `__h`
    * (any orderable type — BIGINT narrow, struct-of-words wide) and
    * (`__bi`, `__bv`) band rows pair within equal band values, dedup to
    * distinct (a < b) pairs, and confirm at `ham ≤ maxHamming`. One
    * shuffle per side on the band key; `ham` runs on candidate rows only,
    * inside whole-stage codegen. */
  private def confirmedPairs(banded: DataFrame, ham: Column,
      maxHamming: Int): DataFrame = {
    val a = banded.select(col("__bi"), col("__bv"), col("__h").as("hash_a"))
    val b = banded.select(col("__bi"), col("__bv"), col("__h").as("hash_b"))
    a.join(b, Seq("__bi", "__bv"))
      .filter(col("hash_a") < col("hash_b"))
      .select(col("hash_a"), col("hash_b")).distinct()
      .withColumn("hamming", ham)
      .filter(col("hamming") <= maxHamming)
  }

  /** Wide-fingerprint variant: the fingerprint spans several BIGINT
    * columns (e.g. 128 bits as two words) so band values stay selective
    * at populations where a 64-bit hash's bands saturate — candidate
    * volume ≈ N²·bands/2^(bits/bands), so 10M uniform fingerprints need
    * ~32-bit bands, which only a ≥128-bit fingerprint can give 4 bands.
    * Same bit-interleaved banding and pigeonhole-exact recall as the
    * 1-word path (shared [[bandValue]]/[[confirmedPairs]] core); hamming
    * sums `bit_count(xor)` per word.
    */
  def hammingNearDupPairsWide(hashes: DataFrame, hashCols: Seq[String],
      bands: Int, maxHamming: Int): DataFrame = {
    require(bands > maxHamming,
      s"recall guarantee needs bands > maxHamming, got $bands <= $maxHamming")
    val bits = 64 * hashCols.size
    require(bits / bands <= 63, s"band width ${bits / bands} exceeds one long")
    val banded = bandedHashesWide(
        hashes.select(struct(hashCols.map(col): _*).as("__h") +: hashCols.map(col): _*),
        hashCols, bands)
      .select(col("__h"), col("__bi"), col("__bv"))
    val ham = hashCols.indices.map { w =>
      bit_count(col(s"hash_a.${hashCols(w)}").bitwiseXOR(col(s"hash_b.${hashCols(w)}")))
    }.reduce(_ + _).cast("int")
    confirmedPairs(banded, ham, maxHamming)
  }

  def hammingNearDupPairs(hashes: DataFrame, hashCol: String, bits: Int,
      bands: Int, maxHamming: Int): DataFrame = {
    require(bands > maxHamming,
      s"recall guarantee needs bands > maxHamming, got $bands <= $maxHamming")
    val banded = bandedHashes(hashes.select(col(hashCol).as("__h")), "__h", bits, bands)
    confirmedPairs(banded,
      bit_count(col("hash_a").bitwiseXOR(col("hash_b"))).cast("int"), maxHamming)
  }

  /** Per-field survivorship rule for [[goldenRecord]]. Every rule is a
    * TOTAL-ORDER pick, so the merged record is deterministic under any
    * partitioning (no "first seen wins"). */
  sealed trait Survivor
  object Survivor {
    /** Longest non-null string; equal lengths break to the binary-smallest
      * string (both engines compare UTF-8 bytes). */
    case object LongestString extends Survivor
    /** Greatest value (the freshest balance / latest timestamp rule). */
    case object MaxNumeric extends Survivor
    /** Smallest non-null value (the stable-identifier rule: nulls lose). */
    case object MinString extends Survivor
    /** Value from the row with the greatest `versionCol` — last-write-wins
      * at field granularity. Versions must be distinct within a cluster
      * (enforce upstream), otherwise `max_by` ties are engine-defined. */
    final case class LatestBy(versionCol: String) extends Survivor
  }

  /** Golden-record assembly — the survivorship step that ENDS an entity-
    * resolution pipeline: after linkage ([[blockedLevenshteinJoin]]) and
    * cluster labeling (ConnectedComponents) decide WHICH rows are the same
    * entity, this decides what the ONE merged record says, field by field
    * (the classic MDM merge: longest name, freshest balance, last-write
    * address, any non-null phone).
    *
    * One map-side-combinable groupBy on the cluster key is the ENTIRE
    * plan — every rule compiles to an ordinary aggregate (min/max over a
    * sort-key struct, `max_by` for version picks), so partial aggregation
    * collapses each cluster's duplicates inside the scan and only one
    * candidate row per (cluster, partition) ever shuffles. No windows, no
    * self-joins, no row materialization of losing records.
    *
    * Returns one row per cluster: `clusterCol`, `n_records`, then one
    * column per rule (original names, survivor values).
    */
  /** Sorted-neighborhood candidate generation (Hernández & Stolfo,
    * SIGMOD 1995) — the third blocking family beside token blocks
    * ([[blockedLevenshteinPairs]]) and Hamming bands: impose a TOTAL
    * ORDER on a sort key and pair every record with its `w−1` successors,
    * so near-records meet even when they share no block token (typo in
    * the first character) as long as the sort key places them nearby.
    *
    * The global rank is computed WITHOUT a single-reducer window: integer
    * keys range-bucket by `key DIV bucketWidth` (order-preserving), local
    * ranks come from a per-bucket window, and each bucket's starting
    * offset is a cumulative sum over the tiny bucket-count table joined
    * back broadcast — the classic two-phase distributed ranking. Pairing
    * is then an EQUI join on `rank + d` (d exploded 1..w−1), one shuffle
    * each side, never an inequality join. A value-skewed hot bucket
    * serializes its local window — pick `bucketWidth` so key ties spread
    * across buckets, same discipline as RangeJoin's width note.
    *
    * Output: id_a/key_a, id_b/key_b (b = the d-th successor of a), d.
    */
  def sortedNeighborhood(df: DataFrame, idCol: String, keyCol: String,
      w: Int, bucketWidth: Long = 1024L): DataFrame =
    sortedNeighborhoodBy(df, idCol, keyCol, w,
      expr(s"$keyCol DIV $bucketWidth"))

  /** [[sortedNeighborhood]] for ANY orderable key type: `bucketExpr` must
    * be order-preserving in the key (bucket(x) non-decreasing as x grows —
    * for strings, an order-preserving prefix like `substring(key, 1, p)`;
    * the integer entry point uses truncating division, which is monotone
    * including negatives). Rank correctness needs only that monotonicity;
    * bucket widths may be uneven, they just shift work between the local
    * windows.
    *
    * The offsets table has one row per DISTINCT bucket, so its size is
    * set by `bucketExpr`'s cardinality, not by the data: a too-fine
    * bucketing (bucketWidth=1 over millions of distinct keys) would make
    * the "tiny" table data-sized. The offsets are persisted (scoped),
    * counted, and joined broadcast only below `maxBroadcastBuckets` rows
    * (~24 bytes each); above it the join falls back to a shuffled hash
    * join — correct either way, and the count also keeps the offset
    * window's single-partition cumulative sum honest (it is bounded by
    * the same cardinality). Aim for ≥ w rows per bucket when choosing
    * the bucketing. */
  def sortedNeighborhoodBy(df: DataFrame, idCol: String, keyCol: String,
      w: Int, bucketExpr: Column,
      maxBroadcastBuckets: Long = 1L << 22): DataFrame = {
    require(w >= 2, "window must pair each row with at least one successor")
    val wOff = org.apache.spark.sql.expressions.Window
      .orderBy(col("__bkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wLoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__bkt")).orderBy(col(keyCol), col(idCol))
    // a null sort key has no position in the total order — such rows are
    // EXCLUDED from the neighborhood (made explicit here; without the
    // filter the offsets equi-join would drop them silently anyway)
    val bucketed = df.select(col(idCol), col(keyCol))
      .where(col(keyCol).isNotNull)
      .withColumn("__bkt", bucketExpr)
    val offsets = graft.core.CacheLife.scoped(
      bucketed.groupBy(col("__bkt"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__off", coalesce(sum(col("__c")).over(wOff), lit(0L)))
        .drop("__c")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nBuckets = offsets.count()
    val offsetsSized =
      if (nBuckets <= maxBroadcastBuckets) broadcast(offsets)
      else {
        // correct but a symptom: the bucketing is finer than the data (aim
        // for >= w rows per bucket) — tell the user instead of silently
        // shuffling what was meant to be a broadcast side
        onBroadcastFallback(
          s"sortedNeighborhoodBy: $nBuckets distinct buckets exceed " +
            s"maxBroadcastBuckets=$maxBroadcastBuckets; falling back to a " +
            "shuffled offsets join — widen bucketExpr (too-fine bucketing) " +
            "or raise maxBroadcastBuckets")
        offsets
      }
    val ranked = bucketed
      .join(offsetsSized, Seq("__bkt"))
      .withColumn("__r", col("__off") + row_number().over(wLoc))
      .select(col(idCol), col(keyCol), col("__r"))
    val probes = ranked
      .withColumn("d", explode(sequence(lit(1L), lit((w - 1).toLong))))
      .withColumn("__r2", col("__r") + col("d"))
    probes.alias("a")
      .join(ranked.alias("b"), col("a.__r2") === col("b.__r"))
      .select(col(s"a.$idCol").as("id_a"), col(s"a.$keyCol").as("key_a"),
        col(s"b.$idCol").as("id_b"), col(s"b.$keyCol").as("key_b"), col("d"))
  }

  def goldenRecord(records: DataFrame, clusterCol: String,
      rules: Seq[(String, Survivor)]): DataFrame = {
    require(rules.nonEmpty, "goldenRecord needs at least one field rule")
    val aggs = rules.map { case (f, rule) =>
      (rule match {
        case Survivor.LongestString =>
          min(when(col(f).isNotNull,
            struct(negate(length(col(f))).as("k"), col(f).as("v"))))
            .getField("v")
        case Survivor.MaxNumeric => max(col(f))
        case Survivor.MinString => min(col(f))
        case Survivor.LatestBy(v) => max_by(col(f), col(v))
      }).as(f)
    }
    records.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_records"), aggs: _*)
  }
}
