package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.storage.StorageLevel
import graft.operators.{Kll, LmOps, Profile, Sketches}

/** Structured Streaming surface (SURVEY.md §7.1 pipeline/): the reference is
  * strictly batch per-scene; this wraps the same transformations for
  * continuous ingestion — file-source micro-batches for scene Parquet dirs
  * and an event stream with watermarked tumbling windows + custom session
  * state via mapGroupsWithState.
  *
  * Every per-batch entry point starts through [[startBatches]]. The
  * stateful ones keep their state in batch_id-partitioned store TABLES, not
  * in a checkpoint, under one protocol per micro-batch N:
  *  1. prune: delete store partitions below the retention horizon
  *     N − `retainBatches` (nothing for [[Unbounded]]);
  *  2. delta: build batch N's own store rows;
  *  3. read: the committed partitions strictly before N (inside the
  *     horizon) ∪ the delta;
  *  4. emit: overwrite `outDir/batch_id=N` with what they compute;
  *  5. admit: overwrite the store's own `batch_id=N` partition with the
  *     delta.
  * A retried batch N prunes the same partitions, reads the same ones (its
  * own half-written partition is not strictly before N) and replaces,
  * never duplicates, its output and store rows: exactly-once per batch.
  * Per-batch cost is O(window), not O(stream length). Store paths resolve
  * through the Hadoop FileSystem API, so stores may live on HDFS/S3 and
  * compact with [[compactStore]]. The count-delta monitors (HLL, quantile,
  * heavy hitters, AUC, AP, KS, PSI, W1, JS, χ², calibration, τ-b, isotonic,
  * k-anonymity, bucket drift) are each a delta and an emit run by
  * [[storeStep]]; the other stateful streams (near-dup, curation,
  * line-dedup, packing, funnel, as-of, SCD2, …) spell the steps out over
  * their own stores.
  */
object Streaming {

  /** Default sliding retention window (in micro-batches) for the
    * batch_id-partitioned store tables (near-dup band/vector/line stores,
    * drift counts). Finite BY DEFAULT: an unbounded store makes per-batch
    * cost grow linearly and cumulative cost quadratically with stream
    * length, which is never the right silent default for a long-lived
    * ingest stream. Pass [[Unbounded]] to opt in to full-history
    * retention explicitly.
    */
  val DefaultRetainBatches: Int = 64

  /** Explicit opt-in for unbounded store retention (see
    * [[DefaultRetainBatches]]). */
  val Unbounded: Int = -1

  /** `retainBatches` contract: positive sliding window or the explicit
    * [[Unbounded]] sentinel. 0 is rejected — it used to silently mean
    * unbounded, the exact foot-gun a finite default exists to remove.
    * Starters check it (and their other parameters) before the stream
    * starts, so a bad argument never surfaces only inside the first
    * micro-batch. */
  private def checkRetain(retainBatches: Int): Unit =
    require(retainBatches > 0 || retainBatches == Unbounded,
      s"retainBatches must be a positive window or Streaming.Unbounded (-1); got $retainBatches")

  final case class Event(event_id: Long, ts: Long, user_id: Long, event_type: String, value: Double)
  final case class SessionState(nEvents: Long, nSessions: Long, lastTsUs: Long)
  final case class SessionUpdate(userId: Long, nEvents: Long, nSessions: Long)

  /** File-source stream of events parquet (ts as ns longs, like the batch path). */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema).parquet(dir)
  }

  /** Watermarked tumbling 1-hour aggregation — the streaming twin of
    * Events.q20HourlyAgg (same grouping semantics, plus late-data bound).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("event_time", "2 hours")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Custom session state: the streaming twin of Events.q21Sessionize.
    * Gap > 30 min opens a new session; state survives across micro-batches.
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.NoTimeout) {
        (userId, batch, state: GroupState[SessionState]) =>
          val prev = state.getOption.getOrElse(SessionState(0L, 0L, Long.MinValue))
          var (n, sessions, last) = (prev.nEvents, prev.nSessions, prev.lastTsUs)
          batch.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
            val tsUs = e.ts / 1000
            if (last == Long.MinValue || tsUs - last > 1800000000L) sessions += 1
            n += 1
            last = tsUs
          }
          state.update(SessionState(n, sessions, last))
          SessionUpdate(userId, n, sessions)
      }
  }

  final case class FrameHash(video_id: Long, frame_no: Int, dhash: Long)
  final case class SceneCutState(lastFrameNo: Int, lastHash: Long, nCuts: Long)
  final case class SceneLabel(video_id: Long, frame_no: Int, dist: Int, scene_no: Long)

  /** Streaming scene-cut detection — the ingest-time twin of
    * Multimedia.q139SceneCuts' cut labeling: frame hashes arrive on a
    * stream (the MJPEG walk emits frames in order per video) and each
    * frame is labeled with its scene number as it lands. Per-video state
    * is ONLY the last (frame_no, dhash) and the running cut count —
    * O(videos), never O(frames) — so a live captioning/packing consumer
    * can segment clips without waiting for whole videos. `dist` is −1
    * for a video's first frame (no predecessor), matching the batch
    * window's null lag.
    */
  def sceneCutStream(frames: Dataset[FrameHash], threshold: Int): Dataset[SceneLabel] = {
    import frames.sparkSession.implicits._
    frames.groupByKey(_.video_id)
      .flatMapGroupsWithState[SceneCutState, SceneLabel](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (vid, batch, state: GroupState[SceneCutState]) =>
          var st = state.getOption.getOrElse(SceneCutState(-1, 0L, 0L))
          val out = batch.toSeq.sortBy(_.frame_no).map { f =>
            val d = if (st.lastFrameNo < 0) -1
              else java.lang.Long.bitCount(st.lastHash ^ f.dhash)
            val cuts = st.nCuts + (if (d >= threshold) 1L else 0L)
            st = SceneCutState(f.frame_no, f.dhash, cuts)
            SceneLabel(vid, f.frame_no, d, cuts)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming exact dedup — the ingest-time twin of TextOps.exactDedup:
    * documents arriving on a stream are deduplicated by content hash with
    * `dropDuplicatesWithinWatermark`, so the dedup state store only keeps
    * keys until the watermark passes them. Bounded state is the 100 TB
    * requirement: an unbounded `dropDuplicates` on a stream grows its state
    * forever, while near-dup ingest bursts (re-crawls, retries) land within
    * the watermark horizon and are caught.
    */
  def dedupStream(docs: DataFrame, tsCol: String, textCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", sha2(col(textCol), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming embedding near-dup detection — the ingest-time twin of
    * Similarity.nearDupPairs. Each micro-batch of (vec_id, embedding)
    * rows is banded with the SAME deterministic hyperplane family as the
    * batch operator, candidate pairs come from band-bucket collisions
    * (a) within the batch and (b) against a persistent bucket STORE, are
    * confirmed by exact cosine ≥ threshold, and append to `outDir` as
    * (doc_a, doc_b, cos_sim) with doc_a the earlier-seen side.
    *
    * State lives in TABLES (`storeDir/buckets`: band, bucket, vec_id;
    * `storeDir/vectors`: vec_id, embedding), not in executor memory — the
    * production shape for dedup-at-ingest at 100 TB: the store outlives
    * any one query, the band equi-join only touches colliding buckets,
    * and retention/compaction is an operational policy on the table (vs
    * a state store that grows inside a checkpoint forever).
    *
    * Store protocol (exactly-once under retries): [[Streaming]]; the
    * pairs, bucket rows and vector rows are each batch_id-partitioned.
    *
    * Retention: `retainBatches` keeps a sliding window of that many
    * prior batches (default [[DefaultRetainBatches]]): older partitions
    * are pruned before the read, per-batch cost is O(window), and the
    * near-dup promise narrows to "against the last N batches" (the
    * watermark-horizon trade [[dedupStream]] makes, expressed as table
    * retention). Pass [[Unbounded]] to join every batch against ALL
    * history — an explicit opt-in because per-batch cost then grows
    * linearly and cumulative cost quadratically with stream length.
    */
  def embeddingNearDupStream(vectors: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, threshold: Double, planes: Int, bands: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    startBatches(vectors, checkpoint)(
      processNearDupBatch(_, _, outDir, storeDir, threshold, planes, bands, idCol,
        vecCol, retainBatches))
  }

  /** Committed rows of an idempotent batch-partitioned store table:
    * partitions with batch_id < this batch. A retried batch may find its
    * own half-written batch_id=<id> partition; the filter excludes it, so
    * re-execution sees exactly the pre-batch store. Existence resolves via
    * the Hadoop FileSystem API (HDFS/S3 store dirs, not just local disk).
    */
  private def committedOr(spark: SparkSession, path: String, batchId: Long,
      empty: => DataFrame, minBatchId: Long = Long.MinValue): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val exists = hp.getFileSystem(spark.sessionState.newHadoopConf()).exists(hp)
    if (exists)
      try spark.read.parquet(path)
        .filter(col("batch_id") < batchId && col("batch_id") >= minBatchId)
        .drop("batch_id")
      catch { case _: org.apache.spark.sql.AnalysisException => empty }
    else empty
  }

  /** Retention horizon for a store at batch `batchId`: the smallest
    * batch_id still inside the window, or MinValue for [[Unbounded]]
    * (explicit opt-in — per-batch cost then grows with total history).
    * Validates the [[checkRetain]] contract on every batch. */
  private def horizonOf(batchId: Long, retainBatches: Int): Long = {
    checkRetain(retainBatches)
    if (retainBatches > 0) batchId - retainBatches else Long.MinValue
  }

  /** Drop store partitions strictly below the horizon. Deterministic in
    * batchId (a retry of batch N prunes the same set it pruned the first
    * time and reads the same surviving partitions, so the idempotency
    * contract holds WITHIN the horizon; pairs against pruned history are
    * outside the promise by definition). Cumulative per-batch cost becomes
    * O(horizon), not O(total stream length). */
  private def pruneStore(spark: SparkSession, path: String, horizon: Long): Unit =
    if (horizon != Long.MinValue) {
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(hp)) fs.listStatus(hp).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("batch_id=") &&
            scala.util.Try(n.stripPrefix("batch_id=").toLong).toOption
              .exists(_ < horizon))
          fs.delete(st.getPath, true)
      }
    }

  /** The one stream starter: `step` runs on every micro-batch of `rows`
    * (append mode), with progress in `checkpoint`. */
  private def startBatches(rows: DataFrame, checkpoint: String)(
      step: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(step)
      .start()

  /** One micro-batch N of a count-delta monitor under the store protocol
    * (see [[Streaming]]): prune `store` to the `retainBatches` window,
    * write `emit(committed ∪ delta)` to `outDir/batch_id=N`, then admit
    * `delta` as the store's own partition. The delta is persisted because
    * both the emit and the store write read it. */
  private def storeStep(batchId: Long, store: String, outDir: String,
      retainBatches: Int)(delta: DataFrame)(emit: DataFrame => DataFrame): Unit = {
    val spark = delta.sparkSession
    val horizon = horizonOf(batchId, retainBatches)
    pruneStore(spark, store, horizon)
    val mine = delta.persist(StorageLevel.MEMORY_AND_DISK)
    emit(committedOr(spark, store, batchId, mine.limit(0), horizon).unionByName(mine))
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    mine.write.mode("overwrite").parquet(s"$store/batch_id=$batchId")
    mine.unpersist()
    ()
  }

  /** One micro-batch of [[embeddingNearDupStream]] — package-private so the
    * idempotency contract (same batchId twice ⇒ identical store + pairs)
    * is directly testable without forcing a streaming-engine retry.
    */
  private[graft] def processNearDupBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, threshold: Double, planes: Int,
      bands: Int, idCol: String, vecCol: String,
      retainBatches: Int = DefaultRetainBatches): Unit = {
    import graft.operators.Similarity
    val spark = batch.sparkSession
    val horizon = horizonOf(batchId, retainBatches)
    pruneStore(spark, s"$storeDir/buckets", horizon)
    pruneStore(spark, s"$storeDir/vectors", horizon)
    val b = batch.select(col(idCol), col(vecCol)).persist()
    def tableOr(path: String, empty: => DataFrame): DataFrame =
      committedOr(spark, path, batchId, empty, horizon)
    val storeB = tableOr(s"$storeDir/buckets",
      spark.emptyDataFrame.select(lit(0).as("band"), lit(0L).as("bucket"),
        lit(0L).as(idCol)).limit(0))
    val storeV = tableOr(s"$storeDir/vectors", b.limit(0))
    val bb = Similarity.bandBuckets(b, planes, bands, idCol, vecCol)
    // within-batch pairs (a < b) + cross-store pairs (stored id first)
    val within = Similarity.bandedCandidates(b, planes, bands, idCol, vecCol)
    val cross = storeB.select(col(idCol).as("doc_a"), col("band"), col("bucket"))
      .join(bb.select(col(idCol).as("doc_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val allVecs = storeV.unionByName(b).select(col(idCol), col(vecCol),
      sqrt(Similarity.norm2(col(vecCol))).as("nrm"))
    within.unionByName(cross)
      .join(allVecs.select(col(idCol).as("doc_a"), col(vecCol).as("va"),
        col("nrm").as("na")), "doc_a")
      .join(allVecs.select(col(idCol).as("doc_b"), col(vecCol).as("vb"),
        col("nrm").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    // admit the batch into the store — overwrite, so retries replace
    bb.write.mode("overwrite").parquet(s"$storeDir/buckets/batch_id=$batchId")
    b.write.mode("overwrite").parquet(s"$storeDir/vectors/batch_id=$batchId")
    b.unpersist()
    ()
  }

  /** Streaming FINGERPRINT near-dup — the ingest-time twin of the batch
    * banded Hamming join ([[graft.operators.Fuzzy.hammingNearDupPairs]]):
    * each micro-batch of (id, 64-bit-fingerprint) rows is bit-interleave
    * banded with the SAME band family as the batch operator; candidate
    * pairs come from band-value collisions within the batch and against a
    * persistent band store, are confirmed at `bit_count(xor) ≤ maxHamming`
    * (the fingerprint rides in the store rows, so cross-batch confirmation
    * never re-reads old media), and append as (id_a, id_b, hamming) with
    * id_a the earlier-seen side. `bands > maxHamming` keeps the pigeonhole
    * recall guarantee batch-equal per batch AND across batches (the store
    * holds every admitted band row inside the retention window; pass
    * [[Unbounded]] to make that window the whole stream).
    *
    * Store protocol: [[Streaming]].
    */
  def fingerprintNearDupStream(hashes: DataFrame, outDir: String,
      storeDir: String, checkpoint: String, bits: Int, bands: Int,
      maxHamming: Int, idCol: String = "media_id",
      hashCol: String = "dhash", retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    startBatches(hashes, checkpoint)(
      processFingerprintBatch(_, _, outDir, storeDir, bits, bands, maxHamming,
        idCol, hashCol, retainBatches))
  }

  private[graft] def processFingerprintBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, bits: Int, bands: Int,
      maxHamming: Int, idCol: String, hashCol: String,
      retainBatches: Int = DefaultRetainBatches): Unit = {
    import graft.operators.Fuzzy
    require(bands > maxHamming,
      s"recall guarantee needs bands > maxHamming, got $bands <= $maxHamming")
    val spark = batch.sparkSession
    // same retention contract as embeddingNearDupStream: finite sliding
    // window by default; Unbounded (-1) opts in to O(total history)
    val horizon = horizonOf(batchId, retainBatches)
    pruneStore(spark, s"$storeDir/bands", horizon)
    val b = batch.select(col(idCol), col(hashCol)).persist()
    val banded = Fuzzy.bandedHashes(b, hashCol, bits, bands)
    val store = committedOr(spark, s"$storeDir/bands", batchId,
      banded.limit(0), horizon)
    def hamming(a: Column, bc: Column): Column =
      bit_count(a.bitwiseXOR(bc)).cast("int")
    val within = banded
      .select(col(idCol).as("id_a"), col(hashCol).as("__ha"), col("__bi"), col("__bv"))
      .join(banded.select(col(idCol).as("id_b"), col(hashCol).as("__hb"),
        col("__bi"), col("__bv")), Seq("__bi", "__bv"))
      .filter(col("id_a") < col("id_b"))
    val cross = store
      .select(col(idCol).as("id_a"), col(hashCol).as("__ha"), col("__bi"), col("__bv"))
      .join(banded.select(col(idCol).as("id_b"), col(hashCol).as("__hb"),
        col("__bi"), col("__bv")), Seq("__bi", "__bv"))
      .filter(col("id_a") =!= col("id_b"))
    within.unionByName(cross)
      .select(col("id_a"), col("id_b"), col("__ha"), col("__hb")).distinct()
      .withColumn("hamming", hamming(col("__ha"), col("__hb")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    banded.write.mode("overwrite").parquet(s"$storeDir/bands/batch_id=$batchId")
    b.unpersist()
    ()
  }

  /** Streaming TEXT near-dup detection — the ingest-time twin of the batch
    * MinHash+LSH+Jaccard pipeline (TextOps.minhashSignatures → lshBands →
    * exact Jaccard). Each micro-batch of (doc_id, text) rows is shingled
    * and banded with the SAME deterministic hash family as the batch
    * operators; candidate pairs come from band-bucket collisions (a) within
    * the batch and (b) against a persistent band store, are confirmed by
    * EXACT n-gram Jaccard ≥ threshold (shingle hashes are stored alongside
    * the bands, so cross-batch confirmation never re-reads old documents),
    * and append to `outDir` as (doc_a, doc_b, jaccard) with doc_a the
    * earlier-seen side.
    *
    * Same production shape and retention as [[embeddingNearDupStream]],
    * over the `storeDir/bands` and `storeDir/shingles` stores; store
    * protocol: [[Streaming]].
    */
  def textNearDupStream(docs: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, threshold: Double, numHashes: Int = 16, rows: Int = 4,
      idCol: String = "doc_id", textCol: String = "text",
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    startBatches(docs, checkpoint)(
      processTextNearDupBatch(_, _, outDir, storeDir, threshold, numHashes, rows,
        idCol, textCol, retainBatches))
  }

  /** One micro-batch of [[textNearDupStream]] (see [[processNearDupBatch]]
    * for why this is a named, directly-testable step). */
  private[graft] def processTextNearDupBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, threshold: Double, numHashes: Int,
      rows: Int, idCol: String, textCol: String,
      retainBatches: Int = DefaultRetainBatches): Unit = {
    import graft.operators.TextOps
    val spark = batch.sparkSession
    val horizon = horizonOf(batchId, retainBatches)
    pruneStore(spark, s"$storeDir/bands", horizon)
    pruneStore(spark, s"$storeDir/shingles", horizon)
    // batch shingle hashes are the shared prefix of banding AND Jaccard —
    // compute once, persist for the batch's lifetime
    val sh = TextOps.shingleHashes(batch, idCol, textCol).persist()
    val sigs = TextOps.minhashFromHashes(sh, numHashes, idCol)
    val bb = TextOps.lshBands(sigs, numHashes, rows, idCol)
    val storeBands = committedOr(spark, s"$storeDir/bands", batchId, bb.limit(0), horizon)
    val storeSh = committedOr(spark, s"$storeDir/shingles", batchId, sh.limit(0), horizon)
    // within-batch pairs (a < b) + cross-store pairs (stored id first)
    val l = bb.select(col(idCol).as("doc_a"), col("band_id"), col("band_hash"))
    val r = bb.select(col(idCol).as("doc_b"), col("band_id"), col("band_hash"))
    val within = l.join(r, Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val cross = storeBands.select(col(idCol).as("doc_a"), col("band_id"), col("band_hash"))
      .join(r, Seq("band_id", "band_hash"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val cand = within.unionByName(cross).distinct()
    val allSh = storeSh.unionByName(sh)
    TextOps.jaccardFromHashes(allSh, cand, idCol)
      .filter(col("jaccard") >= threshold)
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    // admit the batch into the store — overwrite, so retries replace
    bb.write.mode("overwrite").parquet(s"$storeDir/bands/batch_id=$batchId")
    sh.write.mode("overwrite").parquet(s"$storeDir/shingles/batch_id=$batchId")
    sh.unpersist()
    ()
  }

  /** Streaming sequence PACKING — the ingest-time twin of
    * TextOps.packSequences: documents arriving on a stream are assigned
    * (start_tok, seq_id, seq_off) positions that CONTINUE the virtual
    * token stream across micro-batches, so training windows fill
    * continuously as data lands. Within a batch, docs pack in id order via
    * the batch operator's two-phase prefix scan; across batches, the
    * running token total lives in a batch_id-partitioned store table with
    * the same exactly-once contract as the near-dup stores (writes
    * overwrite their own batch_id partition, reads see only strictly
    * earlier batches) — a retried batch re-packs at its original offset.
    */
  def packStream(docs: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, seqLen: Int,
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    startBatches(docs, checkpoint)(
      processPackBatch(_, _, outDir, storeDir, seqLen, idCol, textCol))

  /** One micro-batch of [[packStream]] — package-private for direct
    * idempotency testing (same batchId twice ⇒ identical output + store). */
  private[graft] def processPackBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, seqLen: Int,
      idCol: String, textCol: String): Unit = {
    import graft.operators.TextOps
    val spark = batch.sparkSession
    import spark.implicits._
    val priorTotals = committedOr(spark, s"$storeDir/totals", batchId,
      Seq.empty[Long].toDF("n_tok_total"))
    val offRow = priorTotals.agg(sum(col("n_tok_total"))).head()
    val offset = if (offRow.isNullAt(0)) 0L else offRow.getLong(0)
    val local = TextOps.packSequences(
      batch.select(col(idCol), col(textCol)), seqLen)
    val packed = local
      .withColumn("start_tok", col("start_tok") + lit(offset))
      .withColumn("seq_id", expr(s"start_tok DIV $seqLen"))
      .withColumn("seq_off", col("start_tok") % seqLen)
      .withColumn("spans_boundary",
        expr(s"(start_tok + n_tok - 1) DIV $seqLen") =!= col("seq_id"))
      .persist()
    packed.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    val batchTokens = packed.agg(sum(col("n_tok"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    Seq(batchTokens).toDF("n_tok_total")
      .write.mode("overwrite").parquet(s"$storeDir/totals/batch_id=$batchId")
    packed.unpersist()
    ()
  }

  /** Streaming DECONTAMINATION — the ingest-time twin of
    * TextOps.decontaminate: training documents arriving on a stream are
    * scored against a FIXED evaluation shingle set (benchmarks don't
    * change mid-ingest), flagging leakage the moment data lands instead
    * of in a later batch sweep. The eval set is computed once by the
    * caller ([[graft.operators.TextOps.evalShingleSet]]) and re-broadcast
    * per micro-batch; scoring is stateless per document, so batches are
    * idempotent by construction (each overwrites its own batch_id
    * partition).
    */
  def decontaminateStream(docs: DataFrame, evalHashes: DataFrame,
      outDir: String, checkpoint: String, minFrac: Double = 0.1,
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    startBatches(docs, checkpoint) { (batch, batchId) =>
      graft.operators.TextOps
        .decontaminateAgainst(batch, evalHashes, minFrac, idCol, textCol)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    }

  /** Streaming WARC crawl ingest — the front door of the streaming
    * curation pipeline: watch a directory for landing `.warc.gz` crawl
    * segments (the [[graft.sources.WarcIO]] layout, i.e. Common Crawl's),
    * parse each new file's records and emit (record_id, target_uri, text)
    * rows. Parsing is stateless per file, so the file-source's exactly-once
    * tracking is the only state; compose with [[curationDecisionStream]] /
    * [[removeDupSpansStream]] downstream for land-to-decision latency of
    * one micro-batch.
    */
  def crawlStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .option("pathGlobFilter", "*.warc.gz")
      .load(dir)
      .select(col("content"))
      .flatMap(r => graft.sources.Warc.readAll(r.getAs[Array[Byte]](0))
        .map(w => (w.recordId, w.targetUri, w.bodyText)))
      .toDF("record_id", "target_uri", "text")
  }

  /** Streaming WebDataset ingest — [[crawlStream]]'s multimodal twin:
    * `.tar` shards land in a directory and their members flow as
    * `(shard, key, ext, bytes)` rows, sample-groupable downstream with
    * [[graft.sources.TarIO.samples]]. Parallelism is the shard count per
    * micro-batch (the production WebDataset model). */
  def wdsStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .option("pathGlobFilter", "*.tar")
      .load(dir)
      .select(col("path"), col("content"))
      .flatMap { r =>
        graft.sources.Tar.readAll(r.getAs[Array[Byte]](1)).map { e =>
          val (key, ext) = graft.sources.Tar.keyExt(e.name)
          (r.getString(0), key, ext, e.body)
        }
      }
      .toDF("shard", "key", "ext", "bytes")
  }

  /** Streaming header-only WebDataset census — the monitoring twin of the
    * batch `wds` scan with bytes pruning (q122): as `.tar` shards land,
    * emit one `(shard, key, ext, size)` row per member by walking ONLY the
    * 512-byte ustar headers ([[graft.sources.TarIO.indexShard]] seek-reads;
    * data blocks are never touched). The stream requires only the `path`
    * column from the file source, so payloads stay out of the micro-batch
    * too — ingest telemetry at header cost regardless of member sizes.
    */
  def wdsCensusStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .option("pathGlobFilter", "*.tar")
      .load(dir)
      .select(col("path")).as[String]
      .flatMap { path =>
        graft.sources.TarIO.indexShard(path, conf.value).map {
          case (shard, name, _, size) =>
            val (key, ext) = graft.sources.Tar.keyExt(name)
            (shard, key, ext, size)
        }
      }
      .toDF("shard", "key", "ext", "size")
  }

  /** Streaming duplicate-span REMOVAL — the ingest-time twin of
    * [[graft.operators.TextOps.removeDupSpans]]: each micro-batch's docs
    * are rewritten against the duplicated-shingle set visible SO FAR
    * (earlier batches' spans plus within-batch repeats). Like
    * [[bloomDedupStream]], this is flag-forward ingest semantics — a span
    * that only becomes duplicated when a LATER batch lands cannot re-edit
    * already-emitted docs; the batch operator over the full corpus is the
    * retrospective pass.
    *
    * State is per-batch (h, n_occ) shingle counts in `storeDir/spans` —
    * batch_id-partitioned, overwritten on retry, read strictly-earlier-
    * partitions-only, so replays are exactly-once like every other store
    * twin. The store carries counts, not positions: corpus-shingle-sized,
    * but mergeable and pruned of everything the rewrite doesn't need.
    */
  def removeDupSpansStream(docs: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, n: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    startBatches(docs, checkpoint)(
      processRemoveSpansBatch(_, _, outDir, storeDir, n, idCol, textCol))

  /** One micro-batch of [[removeDupSpansStream]] — package-private so the
    * idempotency and cross-batch contracts are directly testable. */
  private[graft] def processRemoveSpansBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, n: Int, idCol: String, textCol: String): Unit = {
    import graft.operators.TextOps
    val spark = batch.sparkSession
    val sp = TextOps.positionalShingleHashes(batch, n, idCol, textCol).persist()
    val batchCnt = sp.groupBy(col("h")).agg(count(lit(1)).as("n_occ"))
    val storeCnt = committedOr(spark, s"$storeDir/spans", batchId, batchCnt.limit(0))
    val dup = storeCnt.unionByName(batchCnt).groupBy(col("h"))
      .agg(sum(col("n_occ")).as("__tot")).filter(col("__tot") > 1).select(col("h"))
    TextOps.exciseSpans(batch, sp, dup, n, idCol, textCol)
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    // admit the batch's counts into the store — overwrite, so retries replace
    batchCnt.write.mode("overwrite").parquet(s"$storeDir/spans/batch_id=$batchId")
    sp.unpersist()
    ()
  }

  /** Streaming DSIR scoring — the ingest-time twin of TextOps.dsirScores:
    * documents arriving on a stream are scored against a FIXED
    * log-likelihood-ratio weight table built once from a reference corpus
    * (TextOps.dsirWeights, ≤ buckets rows, re-broadcast per micro-batch).
    * Stateless per document ⇒ idempotent per batch_id partition.
    */
  def dsirScoreStream(docs: DataFrame, weights: DataFrame,
      outDir: String, checkpoint: String, buckets: Int = 8192,
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    startBatches(docs, checkpoint) { (batch, batchId) =>
      graft.operators.TextOps
        .dsirScoreAgainst(batch, weights, buckets, idCol, textCol)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    }

  /** Streaming WEIGHTED sampling — the ingest-time twin of
    * TextOps.weightedSample, i.e. a distributed weighted reservoir: the
    * running A-ES top-k (largest md5-coin priorities u^(1/w)) is carried
    * in a batch_id-partitioned store; each micro-batch merges its own
    * per-partition top-k with the prior state and keeps k rows. Because
    * priorities are deterministic per id, the result after batch N equals
    * the batch operator applied to everything ingested through N, and
    * re-executed batches rebuild the same k rows (same store contract as
    * the near-dup stores: read strictly earlier, overwrite your own
    * partition). State is k rows — independent of stream length.
    */
  def weightedSampleStream(docs: DataFrame, weight: Column, k: Int,
      outDir: String, storeDir: String, checkpoint: String,
      idCol: String = "doc_id"): StreamingQuery =
    startBatches(docs, checkpoint)(
      processWeightedSampleBatch(_, _, weight, k, outDir, storeDir, idCol))

  /** One micro-batch of [[weightedSampleStream]] — package-private for
    * direct idempotency testing. */
  private[graft] def processWeightedSampleBatch(batch: DataFrame, batchId: Long,
      weight: Column, k: Int, outDir: String, storeDir: String,
      idCol: String): Unit = {
    import graft.operators.TextOps
    val spark = batch.sparkSession
    val cand = TextOps.weightedSample(batch, weight, k, idCol)
    val prior = committedOr(spark, s"$storeDir/topk", batchId, cand.limit(0))
    // a doc re-ingested in a later batch exists in BOTH the prior store and
    // this batch's candidates with the same deterministic priority —
    // without the dedup the k-row reservoir could hold the same doc twice
    // and under-represent distinct docs
    val top = prior.unionByName(cand).dropDuplicates(idCol)
      .orderBy(col("priority").desc, col(idCol)).limit(k).persist()
    top.write.mode("overwrite").parquet(s"$storeDir/topk/batch_id=$batchId")
    top.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    top.unpersist()
    ()
  }

  /** Streaming CURATION DECISION — the ingest-time twin of the composed
    * batch decision (queries.Text.q64CurationDecision): every arriving
    * document gets the full reason-flag row
    * (is_exact_dup, is_near_dup, quality_keep, sample_keep, is_eval,
    * contaminated, dup_heavy, keep) the moment it lands, composed from
    *  - exact dedup vs a running content-hash store (canonical = smallest
    *    id seen through this batch);
    *  - near-dup vs the [[textNearDupStream]] machinery (bands + shingle
    *    stores; the later/batch side of a Jaccard-confirmed pair drops);
    *  - Gopher quality + stratified sampling + eval-holdout — stateless
    *    map-side signals, the same expressions as the batch queries;
    *  - decontamination vs the FIXED eval shingle set (benchmarks don't
    *    change mid-ingest);
    *  - duplicated spans vs a running 10-gram span-hash store.
    *
    * Semantics vs the batch pass: with the default
    * `retainBatches = Unbounded`, dedup/span state is SEEN-SO-FAR — with
    * batches arriving in id order the asymmetric flags (exact, near-dup)
    * equal the batch keep-first-by-id decision exactly; the symmetric
    * dup-span flag marks a doc when its partner has already landed (same
    * batch or earlier), so an early doc whose partner arrives later is
    * flagged by the later compose-time batch pass, not retroactively here
    * — the standard ingest-vs-compose split. A positive `retainBatches`
    * windows ALL THREE stores (content hashes, near-dup shingles/bands,
    * span hashes) to that many prior batches — per-batch cost becomes
    * O(window) but the dup flags narrow to "vs the last N batches" and no
    * longer equal the batch decision. Every store follows the
    * batch_id-partition contract (read strictly earlier, overwrite own),
    * so retried batches are exactly-once.
    */
  def curationDecisionStream(docs: DataFrame, evalHashes: DataFrame,
      outDir: String, storeDir: String, checkpoint: String,
      jaccardThreshold: Double = 0.8, contamMinFrac: Double = 0.1,
      sampleRates: Map[String, Double] = Map.empty, defaultRate: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      retainBatches: Int = Unbounded): StreamingQuery = {
    checkRetain(retainBatches)
    startBatches(docs, checkpoint)(
      processCurationBatch(_, _, evalHashes, outDir, storeDir, jaccardThreshold,
        contamMinFrac, sampleRates, defaultRate, idCol, textCol, retainBatches))
  }

  /** One micro-batch of [[curationDecisionStream]] — package-private for
    * direct idempotency testing. */
  private[graft] def processCurationBatch(batch: DataFrame, batchId: Long,
      evalHashes: DataFrame, outDir: String, storeDir: String,
      jaccardThreshold: Double, contamMinFrac: Double,
      sampleRates: Map[String, Double], defaultRate: Double,
      idCol: String, textCol: String,
      retainBatches: Int = Unbounded): Unit = {
    import graft.operators.TextOps
    val spark = batch.sparkSession
    val horizon = horizonOf(batchId, retainBatches)
    pruneStore(spark, s"$storeDir/hashes", horizon)
    pruneStore(spark, s"$storeDir/spans", horizon)
    val b = batch.persist()

    // exact dedup vs the running hash store: canonical is the smallest id
    // over everything seen through this batch
    val bh = b.select(col(idCol), md5(col(textCol)).as("content_hash"))
    val storeH = committedOr(spark, s"$storeDir/hashes", batchId, bh.limit(0), horizon)
    val canon = storeH.unionByName(bh)
      .groupBy(col("content_hash")).agg(min(col(idCol)).as("__canon"))
    val exact = bh.join(canon, "content_hash")
      .select(col(idCol), (col(idCol) =!= col("__canon")).as("is_exact_dup"))

    // near-dup via the existing banded machinery: its per-batch pair output
    // (earlier/smaller side first) lands under the store, the later side drops
    processTextNearDupBatch(b, batchId, s"$storeDir/neardup_pairs",
      s"$storeDir/neardup", jaccardThreshold, 16, 4, idCol, textCol,
      retainBatches)
    val nearDrop = spark.read.parquet(s"$storeDir/neardup_pairs/batch_id=$batchId")
      .select(col("doc_b").as(idCol)).distinct()
      .withColumn("__near", lit(true))

    // stateless signals — the same expressions as q57/q60
    val quality = TextOps.qualityFilter(b, idCol, textCol)
      .select(col(idCol), col("keep").as("quality_keep"))
    val sample = TextOps.langId(b, idCol, textCol)
      .select(col(idCol),
        TextOps.sampleFlag(col("pred_lang"), col(idCol), sampleRates, defaultRate)
          .as("sample_keep"))

    // contamination vs the fixed eval shingle set, train docs only (eval
    // docs ARE the benchmark; q64 leaves them false)
    val contam = TextOps.decontaminateAgainst(
        b.filter(col(idCol) % 11 =!= 0), evalHashes, contamMinFrac, idCol, textCol)
      .select(col(idCol), col("contaminated"))

    // duplicated spans vs the running 10-gram span store: a span is dup if
    // anything seen through this batch carries it too
    val spB = b.select(col(idCol),
      explode_outer(call_function("shingle_hashes", col(textCol), lit(10),
        lit(TextOps.HashP))).as("h"))
    val storeSp = committedOr(spark, s"$storeDir/spans", batchId,
      spB.select(col("h")).limit(0), horizon)
    val dupH = storeSp.select(col("h")).unionByName(spB.select(col("h")))
      .groupBy(col("h")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > 1).select(col("h"), lit(1).as("__dup"))
    val spans = spB.join(dupH, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(col("h")).as("__n_spans"), count(col("__dup")).as("__n_dup"))
      .select(col(idCol),
        (col("__n_spans") > 0 &&
          round(col("__n_dup").cast("double") / col("__n_spans"), 6) >= 0.5)
          .as("dup_heavy"))

    // compose exactly as the batch decision does
    val decision = exact
      .join(nearDrop, Seq(idCol), "left")
      .join(quality, Seq(idCol))
      .join(sample, Seq(idCol))
      .join(contam, Seq(idCol), "left")
      .join(spans, Seq(idCol))
      .select(col(idCol), col("is_exact_dup"),
        coalesce(col("__near"), lit(false)).as("is_near_dup"),
        col("quality_keep"), col("sample_keep"),
        (col(idCol) % 11 === 0).as("is_eval"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"),
        col("dup_heavy"))
      .withColumn("keep",
        !col("is_exact_dup") && !col("is_near_dup") &&
          col("quality_keep") && col("sample_keep") &&
          !col("is_eval") && !col("contaminated") && !col("dup_heavy"))
    decision.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

    // admit the batch into the stores — overwrite, so retries replace
    bh.write.mode("overwrite").parquet(s"$storeDir/hashes/batch_id=$batchId")
    spB.select(col("h")).write.mode("overwrite")
      .parquet(s"$storeDir/spans/batch_id=$batchId")
    b.unpersist()
    ()
  }

  /** Streaming BLOOM "seen-ever" dedup flagging — the long-horizon
    * complement of [[dedupStream]]: `dropDuplicatesWithinWatermark` keeps
    * exact state only inside the watermark, so a re-crawl landing months
    * later sails through. A Bloom filter over every content hash ever
    * ingested costs ~1.2 bytes/key at 1% FP (a 100 TB corpus of 1e11 docs
    * ≈ 120 GB — shard by hash prefix at that point; one filter covers any
    * single-stream shard) and never forgets. Each batch ORs its own
    * filter into the running one (Spark's public BloomFilter sketch is
    * mergeable) under the usual store contract: read strictly earlier
    * batches, overwrite your own partition — so replays are exactly-once.
    * Output rows carry `probably_seen`: false is CERTAIN-new (safe to
    * admit), true routes the row to the (rare) exact re-check.
    */
  def bloomDedupStream(docs: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, expectedKeys: Long = 10000000L, fpp: Double = 0.01,
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    startBatches(docs, checkpoint)(
      processBloomBatch(_, _, outDir, storeDir, expectedKeys, fpp, idCol, textCol))

  /** One micro-batch of [[bloomDedupStream]] — package-private for direct
    * idempotency testing. */
  private[graft] def processBloomBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, expectedKeys: Long, fpp: Double,
      idCol: String, textCol: String): Unit = {
    import org.apache.spark.util.sketch.BloomFilter
    val spark = batch.sparkSession
    import spark.implicits._
    val hashed = batch.select(col(idCol), sha2(col(textCol), 256).as("content_hash"))
    // merge every strictly-earlier batch's filter (mergeInPlace = bitwise OR)
    // BOUND: one bloom blob per committed batch — bits sized by expectedKeys, not rows
    val prior = committedOr(spark, s"$storeDir/bloom", batchId,
      Seq.empty[Array[Byte]].toDF("bits"))
      .collect().map(_.getAs[Array[Byte]]("bits"))
      .foldLeft(BloomFilter.create(expectedKeys, fpp)) { (acc, b) =>
        acc.mergeInPlace(BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
      }
    val bc = spark.sparkContext.broadcast(prior)
    val seen = udf((h: String) => bc.value.mightContainString(h))
    hashed.withColumn("probably_seen", seen(col("content_hash")))
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    // this batch's own filter, built distributed, stored for later batches
    val mine = hashed.stat.bloomFilter("content_hash", expectedKeys, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    mine.writeTo(bos)
    Seq(bos.toByteArray).toDF("bits")
      .write.mode("overwrite").parquet(s"$storeDir/bloom/batch_id=$batchId")
    bc.destroy()
    ()
  }

  /** Streaming corpus-line dedup — the ingest-time twin of
    * `TextOps.corpusLineDedup` (q144): each micro-batch drops every line
    * whose trimmed hash was already emitted (earlier in this batch by
    * corpus order, or by any committed earlier batch) and rewrites its
    * docs from the surviving lines. When batches arrive in corpus order
    * the outputs equal the batch operator over the concatenated corpus
    * (IoStreamingSpec proves it).
    *
    * State is an exact line-hash table in a batch_id-partitioned store
    * (16 bytes/distinct line — line text itself never enters the store);
    * `retainBatches` bounds it to a sliding window exactly like the
    * near-dup stores, trading "dedup against all history" for O(window)
    * per-batch cost. Same exactly-once contract: read strictly earlier
    * partitions, overwrite your own.
    */
  def lineDedupStream(docs: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, idCol: String = "doc_id", textCol: String = "text",
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    startBatches(docs, checkpoint)(
      processLineDedupBatch(_, _, outDir, storeDir, idCol, textCol, retainBatches))
  }

  /** One micro-batch of [[lineDedupStream]] — package-private for direct
    * twin-equality and idempotency testing. */
  private[graft] def processLineDedupBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, idCol: String, textCol: String,
      retainBatches: Int = DefaultRetainBatches): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val horizon = horizonOf(batchId, retainBatches)
    pruneStore(spark, s"$storeDir/lines", horizon)
    val lines = batch
      .select(col(idCol), posexplode(split(col(textCol), "\n")))
      .toDF(idCol, "pos", "line")
      .withColumn("lnorm", trim(col("line")))
      .where(length(col("lnorm")) > 0)
      .withColumn("h", md5(col("lnorm")))
      .drop("lnorm")
    val seen = committedOr(spark, s"$storeDir/lines", batchId,
      lines.select(col("h")).limit(0), horizon)
      .distinct().withColumn("__seen", lit(1))
    val w = Window.partitionBy(col("h")).orderBy(col(idCol), col("pos"))
    val flagged = lines.withColumn("rn", row_number().over(w))
      .join(seen, Seq("h"), "left")
      .withColumn("keep_line", col("rn") === 1 && col("__seen").isNull)
    val agg = flagged.groupBy(col(idCol)).agg(
      count(lit(1)).cast("int").as("n_lines"),
      sum(when(col("keep_line"), 1).otherwise(0)).cast("int").as("n_kept"),
      array_join(
        transform(
          array_sort(collect_list(when(col("keep_line"), struct(col("pos"), col("line"))))),
          s => s.getField("line")),
        "\n").as("deduped_text"))
    batch.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_lines"), lit(0)).as("n_lines"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("deduped_text"), lit("")).as("deduped_text"))
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    // admit this batch's distinct hashes — overwrite, so retries replace
    lines.select(col("h")).distinct()
      .write.mode("overwrite").parquet(s"$storeDir/lines/batch_id=$batchId")
    ()
  }

  /** Streaming distinct-count telemetry — the ingest-time twin of the
    * batch HLL operator (q95, operators.Sketches): each micro-batch writes
    * ITS OWN 512-register table (batch_id-partitioned, overwrite-on-retry),
    * and the running per-key estimate snapshot is computed from the
    * max-merge of all committed registers plus this batch — the register
    * mergeability that SketchesSpec proves for shards is exactly what makes
    * the streaming state a table of bounded size (keys × 512 rows per
    * batch, compactable like every other store via [[compactStore]]).
    * Store protocol: [[Streaming]], unbounded. Output at
    * `outDir/batch_id=N`: (key, est_distinct) running snapshot.
    */
  def hllDistinctStream(docs: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, keyCol: String = "source",
      valueCol: String = "tok"): StreamingQuery =
    startBatches(docs, checkpoint)(
      processHllBatch(_, _, outDir, storeDir, keyCol, valueCol))

  /** One micro-batch of [[hllDistinctStream]] — package-private for direct
    * idempotency testing. */
  private[graft] def processHllBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, keyCol: String, valueCol: String): Unit =
    storeStep(batchId, s"$storeDir/registers", outDir, Unbounded)(
      Sketches.hllRegisters(batch.select(col(keyCol), col(valueCol)),
        col(valueCol), Seq(keyCol))) { all =>
      Sketches.hllEstimate(all.groupBy(col(keyCol), col("bucket"))
        .agg(max(col("reg")).as("reg")), Seq(keyCol))
    }

  /** Streaming per-key quantile monitor — the ingest-time twin of the
    * batch KLL queries (q176/q177): every micro-batch sketches its own
    * rows (`kll_sketch`), appends the sketch row per key to a
    * batch_id-partitioned store, and emits quantiles of EVERYTHING seen
    * so far by `kll_merge`-ing the store — the data itself is never
    * re-read, only O(k·log) sketch longs per (key, batch). Store
    * protocol: [[Streaming]], unbounded; compactable with [[compactStore]]
    * (re-merging compacted sketch rows is exactly kll_merge's contract).
    */
  def quantileMonitorStream(rows: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, keyCol: String, valueCol: String,
      k: Int = 256, qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): StreamingQuery =
    startBatches(rows, checkpoint)(
      processQuantileBatch(_, _, outDir, storeDir, keyCol, valueCol, k, qs))

  /** One micro-batch of [[quantileMonitorStream]] — package-private for
    * direct idempotency testing. */
  private[graft] def processQuantileBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, keyCol: String, valueCol: String,
      k: Int, qs: Seq[Double]): Unit =
    storeStep(batchId, s"$storeDir/sketches", outDir, Unbounded)(
      batch.groupBy(col(keyCol))
        .agg(expr(s"kll_sketch($valueCol, $k)").as("sk"))) { all =>
      Kll.quantilesFromSketch(all.groupBy(col(keyCol))
        .agg(expr("kll_merge(sk)").as("sk")), Seq(keyCol), "sk", qs)
    }

  /** Streaming heavy hitters — the ingest-time twin of the batch exact
    * Misra–Gries pass (`Sketches.exactHeavyHitters`, q178), built on the
    * MERGEABILITY of MG summaries (Agarwal et al., Mergeable Summaries,
    * PODS 2012): each micro-batch stores ITS OWN ≤(k−1)-row summary
    * (batch_id-partitioned, overwrite-on-retry), and the per-batch emit
    * merges all committed summaries in the retention window by summing
    * counters per token.
    *
    * Semantics of the emit (candidates + error bound, not exact counts —
    * an exact recount would need re-scanning raw batches the stream does
    * not keep): `cnt_lb ≤ true_count ≤ cnt_lb + n_total/k`, because each
    * batch's MG residuals under-count by at most n_batch/k and deficits
    * add across the window. Consequently the candidate set is a SUPERSET
    * of every token with true windowed count > n_total/k (pigeonhole: it
    * must beat n_b/k in some batch and so survive that batch's summary),
    * and `guaranteed = cnt_lb·k > n_total` marks tokens PROVEN heavy from
    * the lower bound alone. Output at `outDir/batch_id=N`:
    * (tok, cnt_lb, n_total, guaranteed). Store protocol: [[Streaming]];
    * store size is O(window·k).
    */
  def heavyHittersStream(rows: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, tokCol: String = "tok", k: Int = 256,
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    require(k >= 2, s"heavy hitters needs k >= 2, got $k")
    startBatches(rows, checkpoint)(
      processHeavyHittersBatch(_, _, outDir, storeDir, tokCol, k, retainBatches))
  }

  /** One micro-batch of [[heavyHittersStream]] — package-private for
    * direct superset/idempotency testing. */
  private[graft] def processHeavyHittersBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, tokCol: String, k: Int,
      retainBatches: Int = DefaultRetainBatches): Unit =
    storeStep(batchId, s"$storeDir/mg", outDir, retainBatches)(
      mgSummary(batch, tokCol, k)) { all =>
      // window total rides the null-token sentinel rows; 1-row broadcast
      val totalDf = all.where(col("tok").isNull)
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_total"))
      all.where(col("tok").isNotNull)
        .groupBy(col("tok")).agg(sum(col("cnt")).as("cnt_lb"))
        .join(broadcast(totalDf), lit(true), "left")
        .withColumn("guaranteed", col("cnt_lb") * k > col("n_total"))
    }

  /** Misra–Gries summary of one batch as (tok, cnt) rows — ≤ k−1
    * candidate rows with `true − n/k ≤ cnt ≤ true`, plus the batch total
    * as a null-token sentinel row. Per-partition O(k)-memory MG loops
    * (same scan as the batch operator's pass 1, but KEEPING the residual
    * counters, not just survivor keys) merge by the mergeable-summaries
    * rule: sum counters per token, subtract the k-th largest merged
    * count, drop non-positives. The rank window runs over the already-
    * summarized candidate rows (≤ partitions·(k−1)) — bounded by layout,
    * never by data.
    */
  private def mgSummary(batch: DataFrame, tokCol: String, k: Int): DataFrame = {
    require(k >= 2, s"heavy hitters needs k >= 2, got $k")
    val spark = batch.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val t = batch.select(col(tokCol).cast("string").as("tok"))
      .where(col("tok").isNotNull)
    val perPart = t.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      var np = 0L
      while (it.hasNext) {
        val tok = it.next()
        np += 1
        val cur = counters.getOrElse(tok, -1L)
        if (cur >= 0L) counters(tok) = cur + 1L
        else if (counters.size < k - 1) counters(tok) = 1L
        else counters.toArray.foreach { case (kk, c) =>
          if (c == 1L) counters.remove(kk) else counters(kk) = c - 1L
        }
      }
      counters.iterator.map { case (tk, c) => (tk, c) } ++
        Iterator(((null: String), np))
    }.toDF("tok", "cnt")
    val summed = perPart.where(col("tok").isNotNull)
      .groupBy(col("tok")).agg(sum(col("cnt")).as("cnt"))
    val ranked = summed.withColumn("__rk",
      row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
    val kth = ranked.where(col("__rk") === k).select(col("cnt").as("__sub"))
    val pruned = ranked.where(col("__rk") < k)
      .join(broadcast(kth), lit(true), "left")
      .select(col("tok"), (col("cnt") - coalesce(col("__sub"), lit(0L))).as("cnt"))
      .where(col("cnt") > 0)
    val sentinel = perPart.where(col("tok").isNull)
      .groupBy().agg(coalesce(sum(col("cnt")), lit(0L)).as("cnt"))
      .select(lit(null).cast("string").as("tok"), col("cnt"))
    pruned.unionByName(sentinel)
  }

  /** Streaming ROC-AUC monitor — the ingest-time twin of the batch
    * `LmOps.binaryAuc` (q196): each micro-batch stores ITS OWN
    * (score, p, ng) distinct-score count deltas (batch_id-partitioned,
    * overwrite-on-retry), and the emit computes the exact tie-corrected
    * AUC over every committed batch in the retention window via
    * `LmOps.binaryAucFromCounts` — counts sum per score, so the raw rows
    * are never re-read (the mergeable-summaries contract; count tables
    * are the group homomorphism here).
    *
    * State is bounded by the DISTINCT-SCORE cardinality inside the
    * window (≤ 2·10⁶ + 1 for micro-rounded bounded metrics), never the
    * row count. Retention follows the store-wide default (a windowed
    * AUC — the drift-monitor semantics); pass [[Unbounded]] explicitly
    * for seen-so-far eval. Output at `outDir/batch_id=N`: the one-row
    * (n, n_pos, n_neg, auc_micro, gini_micro) snapshot.
    */
  def aucMonitorStream(rows: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, scoreCol: String = "score", labelCol: String = "y",
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    startBatches(rows, checkpoint)(
      processAucBatch(_, _, outDir, storeDir, scoreCol, labelCol, retainBatches))
  }

  /** One micro-batch of [[aucMonitorStream]] — package-private for direct
    * idempotency testing. */
  private[graft] def processAucBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, scoreCol: String, labelCol: String,
      retainBatches: Int = DefaultRetainBatches): Unit =
    storeStep(batchId, s"$storeDir/counts", outDir, retainBatches)(
      LmOps.scoreCounts(batch, Nil, scoreCol, labelCol, lit(true)))(
      LmOps.binaryAucFromCounts)

  /** Streaming average-precision monitor — the PR-metric twin of
    * [[aucMonitorStream]] over the IDENTICAL (score, p, ng)
    * distinct-score count-delta store shape (`LmOps.binaryApFromCounts`
    * reads what `binaryAucFromCounts` reads): per batch, the exact
    * per-threshold-floor AP plus the prevalence baseline over every
    * committed batch in the retention window. Same state bound; store
    * protocol: [[Streaming]]. Output at `outDir/batch_id=N`: the
    * one-row (n, n_pos, n_neg, ap_micro, prevalence_micro) snapshot.
    */
  def apMonitorStream(rows: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, scoreCol: String = "score", labelCol: String = "y",
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    startBatches(rows, checkpoint)(
      processApBatch(_, _, outDir, storeDir, scoreCol, labelCol, retainBatches))
  }

  /** One micro-batch of [[apMonitorStream]] — package-private for direct
    * idempotency testing. */
  private[graft] def processApBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, scoreCol: String, labelCol: String,
      retainBatches: Int = DefaultRetainBatches): Unit =
    storeStep(batchId, s"$storeDir/counts", outDir, retainBatches)(
      LmOps.scoreCounts(batch, Nil, scoreCol, labelCol, lit(true)))(
      LmOps.binaryApFromCounts)

  /** Streaming two-sample KS drift monitor — the ingest-time twin of the
    * batch `Profile.ksTwoSample` (q199): per-batch (v, ca, cb)
    * distinct-value count deltas in a batch_id-partitioned store, emit =
    * exact D over every committed batch in the retention window via
    * `Profile.ksTwoSampleFromCounts`. Same state bound as
    * [[aucMonitorStream]]; store protocol: [[Streaming]]. Rows whose group is
    * neither `groupA` nor `groupB` are ignored. Output at
    * `outDir/batch_id=N`: the one-row (at_value, n_a, n_b, cum_a, cum_b,
    * d_micro) snapshot.
    */
  def ksMonitorStream(rows: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, valueCol: String, groupCol: String,
      groupA: String, groupB: String,
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    startBatches(rows, checkpoint)(
      processKsBatch(_, _, outDir, storeDir, valueCol, groupCol, groupA, groupB,
        retainBatches))
  }

  /** One micro-batch of [[ksMonitorStream]] — package-private for direct
    * idempotency testing. */
  private[graft] def processKsBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, valueCol: String, groupCol: String,
      groupA: String, groupB: String,
      retainBatches: Int = DefaultRetainBatches): Unit =
    storeStep(batchId, s"$storeDir/counts", outDir, retainBatches)(
      Profile.valueCounts(batch, Nil, valueCol, groupCol, groupA, groupB, lit(true)))(
      Profile.ksTwoSampleFromCounts)

  /** Streaming PSI drift monitor — the mass-weighted twin of
    * [[ksMonitorStream]] over the IDENTICAL (v, ca, cb) distinct-value
    * count-delta store shape (`Profile.psiFromCounts` reads what
    * `ksTwoSampleFromCounts` reads): per batch, exact PSI over every
    * committed batch in the retention window, bucket edges recomputed
    * from the merged min/max at emit. Same state bound as the KS monitor;
    * store protocol: [[Streaming]]. Output at `outDir/batch_id=N`:
    * the per-bucket (bucket, lo, n_a, n_b, share_a_micro, share_b_micro,
    * term9, psi6, n_skipped) report.
    */
  def psiMonitorStream(rows: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, valueCol: String, groupCol: String,
      groupA: String, groupB: String, buckets: Int = 16,
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    require(buckets >= 2 && buckets <= 1024,
      s"buckets must be in [2, 1024], got $buckets")
    startBatches(rows, checkpoint)(
      processPsiBatch(_, _, outDir, storeDir, valueCol, groupCol, groupA, groupB,
        buckets, retainBatches))
  }

  /** One micro-batch of [[psiMonitorStream]] — package-private for direct
    * idempotency testing. */
  private[graft] def processPsiBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, valueCol: String, groupCol: String,
      groupA: String, groupB: String, buckets: Int = 16,
      retainBatches: Int = DefaultRetainBatches): Unit =
    storeStep(batchId, s"$storeDir/counts", outDir, retainBatches)(
      Profile.valueCounts(batch, Nil, valueCol, groupCol, groupA, groupB, lit(true)))(
      Profile.psiFromCounts(_, buckets))

  /** CUSUM change ALARM over a streaming per-batch statistic — the "page
    * now" layer on top of the monitor family: every monitor emits a
    * per-batch statistic, but a small persistent shift never crosses a
    * per-emission threshold; this layer folds the Page (1954) recursion
    *   S⁺ = max(0, S⁺ + x − target − allowance)
    *   S⁻ = max(0, S⁻ + target − allowance − x)
    * over the EMISSION SEQUENCE with O(1) state per monitor (two Longs
    * in a batch_id-partitioned state store — the fold twin of the batch
    * `Profile.cusum` window closed form, spec-pinned equal). `statOf`
    * reduces each micro-batch to its scalar statistic (a count, a
    * monitor emission's w1_micro/psi6-micro — a BOUNDED 1-row read by
    * construction). Exact Long integers; alarm when S ≥ threshold.
    * Replay contract: reprocessing batch N reads only state < N, so a
    * retry emits the identical alarm row.
    */
  def cusumAlarmStream(rows: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, statOf: DataFrame => Long, target: Long,
      allowance: Long, threshold: Long,
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    startBatches(rows, checkpoint) { (batch, batchId) =>
      processCusumBatch(batch.sparkSession, statOf(batch), batchId,
        outDir, storeDir, target, allowance, threshold, retainBatches)
    }
  }

  /** One micro-batch of [[cusumAlarmStream]] — package-private for direct
    * idempotency testing. The state read is a ≤1-row bounded collect (the
    * latest committed batch's two Longs), never data. Old state partitions
    * prune like every other store (ADVICE r18): only the latest committed
    * batch is ever read, so without pruning the partitioned directory —
    * and the per-batch listing/read cost — grows with total stream
    * length. */
  private[graft] def processCusumBatch(spark: SparkSession, stat: Long,
      batchId: Long, outDir: String, storeDir: String, target: Long,
      allowance: Long, threshold: Long,
      retainBatches: Int = DefaultRetainBatches): Unit = {
    import spark.implicits._
    val statePath = s"$storeDir/state"
    val horizon = horizonOf(batchId, retainBatches)
    pruneStore(spark, statePath, horizon)
    val hp = new org.apache.hadoop.fs.Path(statePath)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val prev: (Long, Long) =
      if (fs.exists(hp))
        try spark.read.parquet(statePath)
          .filter(col("batch_id") < batchId && col("batch_id") >= horizon)
          .orderBy(col("batch_id").desc).limit(1)
          .select(col("s_hi"), col("s_lo")).collect()
          .headOption.map(r => (r.getLong(0), r.getLong(1))).getOrElse((0L, 0L))
        catch { case _: org.apache.spark.sql.AnalysisException => (0L, 0L) }
      else (0L, 0L)
    val sHi = math.max(0L, prev._1 + stat - target - allowance)
    val sLo = math.max(0L, prev._2 + target - allowance - stat)
    val row = Seq((stat, sHi, sLo,
        if (sHi >= threshold) 1L else 0L, if (sLo >= threshold) 1L else 0L))
      .toDF("stat", "s_hi", "s_lo", "alarm_hi", "alarm_lo")
    row.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    row.select(col("s_hi"), col("s_lo"))
      .write.mode("overwrite").parquet(s"$statePath/batch_id=$batchId")
    ()
  }

  /** Streaming Wasserstein-1 drift monitor — the THIRD reader of the
    * IDENTICAL (v, ca, cb) distinct-value count-delta store
    * [[ksMonitorStream]] and [[psiMonitorStream]] maintain
    * (`Profile.wasserstein1FromCounts`): one value-count store now feeds
    * all three drift dials — max CDF gap (KS: where), mass-weighted
    * total (PSI: how much), and CDF area (W1: how far, in value units).
    * Store protocol: [[Streaming]]. Output at
    * `outDir/batch_id=N`: one row — n_a, n_b, n_values, w1_micro.
    */
  def w1MonitorStream(rows: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, valueCol: String, groupCol: String,
      groupA: String, groupB: String,
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    startBatches(rows, checkpoint)(
      processW1Batch(_, _, outDir, storeDir, valueCol, groupCol, groupA, groupB,
        retainBatches))
  }

  /** One micro-batch of [[w1MonitorStream]] — package-private for direct
    * idempotency testing. */
  private[graft] def processW1Batch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, valueCol: String, groupCol: String,
      groupA: String, groupB: String,
      retainBatches: Int = DefaultRetainBatches): Unit =
    storeStep(batchId, s"$storeDir/counts", outDir, retainBatches)(
      Profile.valueCounts(batch, Nil, valueCol, groupCol, groupA, groupB, lit(true)))(
      Profile.wasserstein1FromCounts)

  /** Streaming Jensen–Shannon drift monitor — the FOURTH reader of the
    * (v, ca, cb) distinct-value count-delta store
    * ([[ksMonitorStream]]/[[psiMonitorStream]]/[[w1MonitorStream]]):
    * the BOUNDED dial — every term finite (one-sided buckets contribute
    * share·ln2, no exclusions), total in [0, ln 2], so one alert
    * threshold transfers across streams. Store protocol: [[Streaming]].
    * Output at `outDir/batch_id=N`: per-bucket rows with the
    * js6 scalar riding each.
    */
  def jsMonitorStream(rows: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, valueCol: String, groupCol: String,
      groupA: String, groupB: String, buckets: Int = 16,
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    require(buckets >= 2 && buckets <= 1024,
      s"buckets must be in [2, 1024], got $buckets")
    startBatches(rows, checkpoint)(
      processJsBatch(_, _, outDir, storeDir, valueCol, groupCol, groupA, groupB,
        buckets, retainBatches))
  }

  /** One micro-batch of [[jsMonitorStream]] — package-private for direct
    * idempotency testing. */
  private[graft] def processJsBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, valueCol: String, groupCol: String,
      groupA: String, groupB: String, buckets: Int = 16,
      retainBatches: Int = DefaultRetainBatches): Unit =
    storeStep(batchId, s"$storeDir/counts", outDir, retainBatches)(
      Profile.valueCounts(batch, Nil, valueCol, groupCol, groupA, groupB, lit(true)))(
      Profile.jsDivergenceFromCounts(_, buckets))

  /** Streaming χ² independence monitor — the CATEGORICAL drift twin
    * completing the monitor trio ([[aucMonitorStream]] for ranking,
    * [[ksMonitorStream]] for ordered values): per-batch (a, b, o)
    * contingency count deltas in a batch_id-partitioned store, emit =
    * exact χ² + Cramér's V over every committed batch in the retention
    * window via `Profile.chiSquareFromCounts`. State is bounded by the
    * |A|·|B| observed-cell cardinality inside the window. Store protocol:
    * [[Streaming]]. Output at
    * `outDir/batch_id=N`: the one-row (n, n_a, n_b, dof, chi2_micro,
    * cramers_v) snapshot.
    */
  def chiSquareMonitorStream(rows: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, aCol: String, bCol: String,
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    startBatches(rows, checkpoint)(
      processChiSquareBatch(_, _, outDir, storeDir, aCol, bCol, retainBatches))
  }

  /** One micro-batch of [[chiSquareMonitorStream]] — package-private for
    * direct idempotency testing. */
  private[graft] def processChiSquareBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, aCol: String, bCol: String,
      retainBatches: Int = DefaultRetainBatches): Unit =
    storeStep(batchId, s"$storeDir/counts", outDir, retainBatches)(
      batch.select(col(aCol).cast("string").as("a"), col(bCol).cast("string").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("o")))(
      Profile.chiSquareFromCounts)

  /** Streaming probability-calibration monitor — the ingest-time twin of
    * the batch `LmOps.calibrationReport` (q197), completing the monitor
    * quartet (AUC for ranking, KS for ordered values, χ² for categories,
    * calibration for probabilities): per-batch (bin, n, n_pos, spm, sq)
    * bin-count deltas in a batch_id-partitioned store, emit = exact
    * Brier/ECE reliability report over every committed batch in the
    * retention window via `LmOps.calibrationReportFromCounts`. State is
    * ≤ `bins` rows per batch — the smallest store of the four. `bins`
    * must stay constant for the life of the store (it defines bin ids).
    * Store protocol: [[Streaming]]. Output
    * at `outDir/batch_id=N`: the per-bin (bin, n, n_pos, conf_micro,
    * acc_micro, brier_micro, ece_micro) report.
    */
  def calibrationMonitorStream(rows: DataFrame, outDir: String,
      storeDir: String, checkpoint: String, probMicroCol: String = "pm",
      labelCol: String = "y", bins: Int = 10,
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    require(bins >= 2, s"bins must be >= 2, got $bins")
    startBatches(rows, checkpoint)(
      processCalibrationBatch(_, _, outDir, storeDir, probMicroCol, labelCol, bins,
        retainBatches))
  }

  /** One micro-batch of [[calibrationMonitorStream]] — package-private for
    * direct idempotency testing. */
  private[graft] def processCalibrationBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, probMicroCol: String, labelCol: String,
      bins: Int, retainBatches: Int = DefaultRetainBatches): Unit =
    storeStep(batchId, s"$storeDir/counts", outDir, retainBatches)(
      LmOps.calibrationBinCounts(batch, probMicroCol, labelCol, bins))(
      LmOps.calibrationReportFromCounts)

  /** Streaming Kendall-τ-b association monitor — the ingest-time twin of
    * the batch `Profile.kendallTauB` (q218), extending the monitor family
    * from marginal drift (KS/PSI watch ONE column's distribution) to
    * RELATIONSHIP drift: is the length↔token (or score↔label-rate)
    * association still monotone in the live stream, or did an upstream
    * re-tokenization silently break it? Store: per-batch (__x, __y, __o)
    * distinct-CELL count deltas in a batch_id-partitioned store — cells
    * from disjoint batches sum (the group homomorphism all monitor
    * stores ride), bounded at the |X|×|Y| cell count by the operator's
    * coarse-score contract, never the row count. Emit = the exact batch
    * statistic over every committed batch in the retention window via
    * `kendallTauBFromCounts`. Store protocol: [[Streaming]]. Output at
    * `outDir/batch_id=N`: one row — n, conc, disc, tie_x_pairs,
    * tie_y_pairs, tau_b6.
    */
  def tauMonitorStream(rows: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, xCol: String, yCol: String,
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    startBatches(rows, checkpoint)(
      processTauBatch(_, _, outDir, storeDir, xCol, yCol, retainBatches))
  }

  /** One micro-batch of [[tauMonitorStream]] — package-private for direct
    * idempotency testing. */
  private[graft] def processTauBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, xCol: String, yCol: String,
      retainBatches: Int = DefaultRetainBatches): Unit =
    storeStep(batchId, s"$storeDir/counts", outDir, retainBatches)(
      batch.select(col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
        .where(col("__x").isNotNull && col("__y").isNotNull)
        .groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("__o")))(
      Profile.kendallTauBFromCounts)

  /** Streaming isotonic-calibration monitor — the ingest-time twin of the
    * batch `LmOps.isotonicCalibrate` (q204), completing the batch↔stream
    * parity for the calibration family: it rides the SAME (bin, n, n_pos,
    * spm, sq) count-delta store shape as [[calibrationMonitorStream]]
    * (one probability store can feed both monitors — the AUC/AP
    * (score, p, ng) precedent), and the emit step merges the window's
    * deltas to ≤ `bins` rows, runs PAV driver-side (a no-op at that
    * size — the q204 bounded-collect contract), and writes the fitted
    * step literal-built. `bins` must stay constant for the life of the
    * store. Store protocol: [[Streaming]].
    * Output at `outDir/batch_id=N`: (bin, n, n_pos, conf_micro,
    * iso_micro) with iso_micro non-decreasing in bin.
    */
  def isotonicMonitorStream(rows: DataFrame, outDir: String,
      storeDir: String, checkpoint: String, probMicroCol: String = "pm",
      labelCol: String = "y", bins: Int = 32,
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    require(bins >= 2, s"bins must be >= 2, got $bins")
    startBatches(rows, checkpoint)(
      processIsotonicBatch(_, _, outDir, storeDir, probMicroCol, labelCol, bins,
        retainBatches))
  }

  /** One micro-batch of [[isotonicMonitorStream]] — package-private for
    * direct idempotency testing. */
  private[graft] def processIsotonicBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, probMicroCol: String, labelCol: String,
      bins: Int, retainBatches: Int = DefaultRetainBatches): Unit =
    storeStep(batchId, s"$storeDir/counts", outDir, retainBatches)(
      LmOps.calibrationBinCounts(batch, probMicroCol, labelCol, bins)) { all =>
      // merged per-bin counts → bounded collect (≤ bins rows) → driver PAV
      // → literal-built emit (the q204 single-scan contract: joining the
      // uncached agg plan back would re-run the merge)
      // BOUND: one row per calibration bin — ≤ bins rows
      val rows = all.groupBy(col("bin"))
        .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"),
          sum(col("spm")).as("__spm"))
        .select(col("bin"), col("n"), col("n_pos"), expr("__spm DIV n").as("conf_micro"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      LmOps.isotonicFromCollected(all.sparkSession, rows,
        LmOps.pavFit(rows.map(t => (t._1, t._2, t._3))))
    }

  /** Streaming ordered-funnel progress — the ingest-time twin of the batch
    * Funnel.steps operator. Per-entity step-completion times live in a
    * batch_id-partitioned store; each micro-batch advances them with the
    * chained-min rule
    *   t₁' = coalesce(t₁, min view-ts in batch)
    *   tᵢ' = coalesce(tᵢ, min stepᵢ-ts in batch with ts > tᵢ₋₁')
    * which equals the batch operator whenever batches arrive ts-ordered
    * (the watermark append model: a batch's events all follow the previous
    * batch's). Out-of-order events WITHIN a batch are fine — the min
    * handles them; an event older than an already-set earlier step is the
    * usual streaming-funnel late-data caveat. Output at
    * `outDir/batch_id=N`: the full (entity, t_step...) snapshot.
    */
  def funnelStream(events: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, stepTypes: Seq[String],
      entityCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type"): StreamingQuery =
    startBatches(events, checkpoint)(
      processFunnelBatch(_, _, outDir, storeDir, stepTypes, entityCol, tsCol,
        typeCol))

  /** One micro-batch of [[funnelStream]] — package-private for direct
    * idempotency testing. */
  private[graft] def processFunnelBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, stepTypes: Seq[String],
      entityCol: String, tsCol: String, typeCol: String): Unit = {
    val spark = batch.sparkSession
    val tcols = stepTypes.map(st => s"t_$st")
    val emptyState = {
      var d = batch.select(col(entityCol)).limit(0)
      tcols.foreach(tc => d = d.withColumn(tc, lit(null).cast("long")))
      d
    }
    // committedOr unions EVERY earlier snapshot; step times are write-once
    // (coalesce never overwrites a set value), so per-entity min over the
    // union ≡ the latest snapshot — no "read only the last partition" state.
    val state = committedOr(spark, s"$storeDir/state", batchId, emptyState)
      .groupBy(col(entityCol))
      .agg(min(col(tcols.head)).as(tcols.head),
        tcols.tail.map(tc => min(col(tc)).as(tc)): _*)
    val b = batch.persist()
    // all entities ever seen: stored ∪ this batch
    var acc = state.select(col(entityCol))
      .unionByName(b.select(col(entityCol))).distinct()
      .join(state, Seq(entityCol), "left")
    var prev: Option[String] = None
    stepTypes.foreach { st =>
      val tc = s"t_$st"
      val cand = b.filter(col(typeCol) === st)
        .select(col(entityCol), col(tsCol).cast("long").as("_ts"))
      val eligible = prev match {
        case None => cand
        case Some(p) =>
          cand.join(acc.filter(col(p).isNotNull).select(col(entityCol), col(p)),
              entityCol)
            .filter(col("_ts") > col(p))
            .select(col(entityCol), col("_ts"))
      }
      val mins = eligible.groupBy(entityCol).agg(min(col("_ts")).as(s"${tc}_new"))
      acc = acc.join(mins, Seq(entityCol), "left")
        .withColumn(tc, coalesce(col(tc), col(s"${tc}_new")))
        .drop(s"${tc}_new")
      prev = Some(tc)
    }
    val snapshot = acc.select((col(entityCol) +: tcols.map(col)): _*).persist()
    snapshot.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    snapshot.write.mode("overwrite").parquet(s"$storeDir/state/batch_id=$batchId")
    snapshot.unpersist()
    b.unpersist()
    ()
  }

  /** Streaming SCD2 twin: dimension-change events arrive in micro-batches
    * (possibly late and out of order — the reason the store keeps RAW
    * distinct change rows, not collapsed versions: a late row landing
    * between two equal values legitimately splits one version into three,
    * which a collapsed store could no longer reconstruct) and every batch
    * emits the full current history via [[graft.operators.Delta.scd2]].
    * Replay-idempotent: the batch's rows land in an overwrite-on-retry
    * `batch_id` partition; `committedOr` reads strictly earlier ones.
    */
  def scd2Stream(changes: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, keyCol: String = "user_id", tsCol: String = "ts",
      tieCol: String = "event_id", valueCol: String = "event_type"): StreamingQuery =
    startBatches(changes, checkpoint)(
      processScd2Batch(_, _, outDir, storeDir, keyCol, tsCol, tieCol, valueCol))

  /** One micro-batch of [[scd2Stream]] — package-private for direct
    * idempotency testing. */
  private[graft] def processScd2Batch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, keyCol: String, tsCol: String,
      tieCol: String, valueCol: String): Unit = {
    val spark = batch.sparkSession
    val newRows = batch
      .select(col(keyCol), col(tsCol).cast("long").as(tsCol),
        col(tieCol), col(valueCol))
      .distinct().persist()
    newRows.write.mode("overwrite").parquet(s"$storeDir/changes/batch_id=$batchId")
    val all = committedOr(spark, s"$storeDir/changes", batchId, newRows.limit(0))
      .unionByName(newRows).distinct()
    graft.operators.Delta.scd2(all, keyCol, tsCol, tieCol, valueCol)
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    newRows.unpersist()
    ()
  }

  /** Streaming DIRECTED AS-OF — the ingest-time twin of
    * [[graft.operators.AsOfJoin.asOfDirected]] (backward/forward/nearest +
    * tolerance) over one mixed event stream: rows where `isLeft` holds are
    * the annotate side, the rest are the reference side. Both sides land
    * in batch_id-partitioned stores (read strictly earlier, overwrite own
    * — replays are exactly-once).
    *
    * Late data is the whole point of the directed surface: a FORWARD or
    * NEAREST match for an already-emitted left row can arrive in a later
    * batch (the at-or-after candidate simply hasn't happened yet at ingest
    * time). So each batch re-annotates, besides its own arriving left
    * rows, every STORED left row sharing a key with a newly arrived right
    * row, and writes the refreshed decisions into its own output
    * partition. Downstream reads the CURRENT decision per left row via
    * [[asOfLatest]] (largest batch_id wins) — with that view the stream
    * equals the batch operator over everything ingested, for every
    * direction (IoStreamingSpec). Per-batch cost is O(batch + stored
    * lefts of touched keys + right history of touched keys), bounded by
    * `retainBatches` (default [[Unbounded]]: the twin-equality semantics;
    * a positive window bounds state like the other streams and narrows
    * matches to the retained history).
    */
  def asOfStream(events: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, isLeft: Column, keyCol: String, tsCol: String,
      rightOrd: String, payload: Seq[String],
      direction: String = "backward", tolerance: Long = Long.MaxValue,
      retainBatches: Int = Unbounded): StreamingQuery = {
    checkRetain(retainBatches)
    startBatches(events, checkpoint)(
      processAsOfBatch(_, _, outDir, storeDir, isLeft, keyCol, tsCol, rightOrd,
        payload, direction, tolerance, retainBatches))
  }

  /** One micro-batch of [[asOfStream]] — package-private for direct
    * twin-equality and idempotency testing. */
  private[graft] def processAsOfBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, isLeft: Column, keyCol: String,
      tsCol: String, rightOrd: String, payload: Seq[String],
      direction: String, tolerance: Long,
      retainBatches: Int = Unbounded): Unit = {
    val spark = batch.sparkSession
    val horizon = horizonOf(batchId, retainBatches)
    pruneStore(spark, s"$storeDir/left", horizon)
    pruneStore(spark, s"$storeDir/right", horizon)
    val b = batch.persist()
    val newL = b.filter(isLeft)
    val newR = b.filter(!isLeft)
    val storedL = committedOr(spark, s"$storeDir/left", batchId, newL.limit(0), horizon)
    val storedR = committedOr(spark, s"$storeDir/right", batchId, newR.limit(0), horizon)
    // re-annotate: arriving lefts + stored lefts whose key got new rights
    // (only those decisions can change — a right row for key k never moves
    // another key's match)
    val affected = newL.unionByName(
      storedL.join(newR.select(col(keyCol)).distinct(), Seq(keyCol), "leftsemi"))
    graft.operators.AsOfJoin.asOfDirected(affected,
        storedR.unionByName(newR), keyCol, tsCol, rightOrd, payload,
        direction, tolerance)
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    // admit the batch into the stores — overwrite, so retries replace
    newL.write.mode("overwrite").parquet(s"$storeDir/left/batch_id=$batchId")
    newR.write.mode("overwrite").parquet(s"$storeDir/right/batch_id=$batchId")
    b.unpersist()
    ()
  }

  /** Current as-of decisions from an [[asOfStream]] output dir: each left
    * row's LATEST re-annotation wins (largest batch_id per `leftIdCol`).
    */
  def asOfLatest(spark: SparkSession, outDir: String,
      leftIdCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(leftIdCol)).orderBy(col("batch_id").desc)
    spark.read.parquet(outDir)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "batch_id")
  }

  /** Streaming k-anonymity monitor — the privacy QA of batch
    * `Profile.kAnonymity` running continuously over arriving records:
    * every micro-batch emits the FULL current audit (per-QI-combo size +
    * risk flag) over everything seen so far. The store keeps per-batch
    * COUNT DELTAS, not raw rows — each batch aggregates its own rows once
    * (map-side combinable) and the audit re-sums |QI-combos|-sized delta
    * partitions, so per-batch cost is O(batch + combos·batches), never
    * O(history rows); compact the store with [[compactStore]] on the same
    * schedule as the near-dup band stores. Store protocol: [[Streaming]],
    * unbounded.
    */
  def kAnonymityStream(rows: DataFrame, outDir: String, storeDir: String,
      checkpoint: String, qiCols: Seq[String], k: Long): StreamingQuery =
    startBatches(rows, checkpoint)(
      processKAnonymityBatch(_, _, outDir, storeDir, qiCols, k))

  /** One micro-batch of [[kAnonymityStream]] — package-private for direct
    * idempotency testing. */
  private[graft] def processKAnonymityBatch(batch: DataFrame, batchId: Long,
      outDir: String, storeDir: String, qiCols: Seq[String], k: Long): Unit =
    storeStep(batchId, s"$storeDir/counts", outDir, Unbounded)(
      batch.groupBy(qiCols.map(col): _*).agg(count(lit(1)).as("n_rows"))) { all =>
      all.groupBy(qiCols.map(col): _*)
        .agg(sum(col("n_rows")).as("n_rows"))
        .withColumn("is_risky", col("n_rows") < k)
    }

  /** Streaming distribution-drift monitor — batch `Profile.bucketDrift`
    * running continuously: every micro-batch emits the bucket-share
    * total-variation report of everything seen so far against a STATIC
    * reference snapshot (the training distribution). Same count-delta
    * store as [[kAnonymityStream]] — per-batch cost O(batch + buckets ×
    * window), compactable with [[compactStore]]; store protocol:
    * [[Streaming]].
    * `reference` must carry the same single bucket column.
    * `retainBatches` bounds the comparison to a sliding window of recent
    * batches (finite by default — for drift this is usually also the
    * more USEFUL monitor: "is recent traffic drifting?" rather than
    * diluting a fresh shift into all-time history); [[Unbounded]] opts
    * in to everything-seen-so-far semantics.
    */
  def bucketDriftStream(rows: DataFrame, reference: DataFrame, outDir: String,
      storeDir: String, checkpoint: String, bucketCol: String,
      retainBatches: Int = DefaultRetainBatches): StreamingQuery = {
    checkRetain(retainBatches)
    val refCounts = reference.groupBy(col(bucketCol))
      .agg(count(lit(1)).as("n_rows")).persist()
    startBatches(rows, checkpoint)(
      processBucketDriftBatch(_, _, refCounts, outDir, storeDir, bucketCol,
        retainBatches))
  }

  /** One micro-batch of [[bucketDriftStream]] — package-private for direct
    * idempotency testing. `refCounts` is the pre-aggregated (bucket,
    * n_rows) reference. */
  private[graft] def processBucketDriftBatch(batch: DataFrame, batchId: Long,
      refCounts: DataFrame, outDir: String, storeDir: String,
      bucketCol: String, retainBatches: Int = DefaultRetainBatches): Unit =
    storeStep(batchId, s"$storeDir/counts", outDir, retainBatches)(
      batch.groupBy(col(bucketCol)).agg(count(lit(1)).as("n_rows"))) { all =>
      Profile.bucketDriftFromCounts(
        all.groupBy(col(bucketCol)).agg(sum(col("n_rows")).as("n_rows")),
        refCounts, bucketCol)
    }

  /** Compact a batch_id-partitioned near-dup store table: merge every
    * partition with batch_id ≤ `upTo` into the single partition
    * `batch_id=upTo`. A long-lived stream accumulates one small partition
    * per micro-batch; compaction keeps the store's file count flat.
    *
    * Safe iff `upTo` < the stream's last CHECKPOINT-COMMITTED batch:
    * Structured Streaming only ever replays the latest uncommitted batch,
    * so batches at or below `upTo` are never re-executed, and a replay of
    * batch b > upTo still reads the compacted rows (batch_id=upTo < b).
    * Run it from the maintenance side, not inside foreachBatch. The swap
    * is write-aside → delete olds → rename; a crash mid-swap leaves the
    * compacted rows in a hidden `.compact-<id>` dir (invisible to partition
    * discovery, so readers never see duplicates) and re-running
    * compactStore with the same `upTo` completes the swap. A COMPLETE
    * write-aside (its `_SUCCESS` marker exists) is authoritative: a re-run
    * never recomputes over it, so a crash mid-delete — where recomputing
    * from the surviving partitions would silently drop the already-deleted
    * partitions' rows — resumes by finishing the delete + rename instead.
    */
  def compactStore(spark: SparkSession, tableDir: String, upTo: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(tableDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    val parts = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(s => s.getPath.getName.stripPrefix("batch_id=").toLong)
      .filter(_ <= upTo)
    val tmp = new org.apache.hadoop.fs.Path(root, s".compact-$upTo")
    val tmpComplete = fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))
    if (parts.nonEmpty && !tmpComplete) {
      val compacted = spark.read.parquet(tableDir)
        .filter(col("batch_id") <= upTo).drop("batch_id")
        .coalesce(math.max(1, spark.sparkContext.defaultParallelism / 4))
      compacted.write.mode("overwrite").parquet(tmp.toString)
    }
    if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
      parts.foreach(b => fs.delete(new org.apache.hadoop.fs.Path(root, s"batch_id=$b"), true))
    if (fs.exists(tmp))
      fs.rename(tmp, new org.apache.hadoop.fs.Path(root, s"batch_id=$upTo"))
    ()
  }

  /** Scene-at-a-time recipe runner: each new scene Parquet dir arriving under
    * `inDir` flows through `recipe` (e.g. detrend → inversion) and appends to
    * `outDir` — micro-batch per scene, the continuous-ingestion shape of
    * SURVEY.md §3.1.
    */
  def sceneRecipe(spark: SparkSession, inDir: String, outDir: String, checkpoint: String)(
      recipe: DataFrame => DataFrame): StreamingQuery = {
    val schema = spark.read.parquet(inDir).schema
    startBatches(spark.readStream.schema(schema).parquet(inDir), checkpoint) {
      (batch, _) => recipe(batch).write.mode("append").parquet(outDir)
    }
  }
}
