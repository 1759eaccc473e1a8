package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.models.{LutIO, ModelRegistry}
import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRow
import graft.streaming.Streaming
import graft.streaming.Streaming.Event

class IoStreamingSpec extends SparkSpec {

  test("LUT parquet roundtrip preserves grid and values (S2/S6)") {
    val dir = Files.createTempDirectory("lut").toString + "/cmod5n_lr"
    LutIO.writeLut(spark, "gmf_cmod5n", dir)
    val (lut, meta) = LutIO.readLut(spark, dir)
    val orig = ModelRegistry.get("gmf_cmod5n").toLut()
    assert(meta("model") == "gmf_cmod5n" && meta("pol") == "VV" && meta("units") == "linear")
    assert(lut.inc.sameElements(orig.inc) && lut.wspd.sameElements(orig.wspd))
    assert(lut.phi.sameElements(orig.phi))
    assert(lut.values.sameElements(orig.values))
  }

  test("parquet LUT registers as a lookup model (S3)") {
    val dir = Files.createTempDirectory("lut").toString + "/dummy_lut"
    LutIO.writeLut(spark, "gmf_dummy", dir)
    val before = ModelRegistry.all.size
    // re-register under the same name (idempotent overwrite of gmf_dummy)
    val m = LutIO.registerParquetLut(spark, dir)
    assert(ModelRegistry.all.size == before)
    // lookup at a grid point equals the analytic function at that point
    val lut = ModelRegistry.get("gmf_dummy").toLut()
    assert(math.abs(m.eval(lut.inc(5), lut.wspd(10), 0.0) -
      graft.functions.Gmf.dummy(lut.inc(5), lut.wspd(10))) < 1e-12)
    // restore the analytic registration for other suites
    ModelRegistry.register(graft.models.Model("gmf_dummy", "VH", "linear",
      (i, w, _) => graft.functions.Gmf.dummy(i, w), hasPhi = false, wspdRange = (3.0, 80.0)))
  }

  test("streaming sessionization matches batch semantics across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("update").start()
    val h = 3600L * 1000000000L
    // two events 10s apart (one session), then one 2h later (new session)
    mem.addData(Event(1, 0, 7, "a", 1.0), Event(2, 10L * 1000000000L, 7, "a", 1.0))
    q.processAllAvailable()
    mem.addData(Event(3, 2 * h, 7, "a", 1.0))
    q.processAllAvailable()
    val rows = spark.table("sessions").as[(Long, Long, Long)].collect()
    q.stop()
    val last = rows.last
    assert(last == ((7L, 3L, 2L)), s"expected 3 events / 2 sessions, got ${rows.mkString(",")}")
  }

  test("streaming dedup drops same-content docs within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "event_time", "text")
    val q = Streaming.dedupStream(docs, "event_time", "text", "10 minutes")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    mem.addData((1L, ts(0), "same text"), (2L, ts(1), "same text"), (3L, ts(1), "other"))
    q.processAllAvailable()
    mem.addData((4L, ts(2), "same text")) // still within watermark → dropped
    q.processAllAvailable()
    // advance watermark far past the dup keys, then flush
    mem.addData((5L, ts(600), "late probe"))
    q.processAllAvailable()
    val texts = spark.table("dedup").select("text").as[String].collect().toSeq
    q.stop()
    assert(texts.count(_ == "same text") == 1, s"dups leaked: $texts")
    assert(texts.contains("other"))
  }

  test("streaming embedding near-dup finds within-batch and cross-batch pairs via the table store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("neardupstream").toString
    // hash-mixed pseudo-random vectors (cosines near 0 between seeds);
    // near() perturbs one coordinate → cosine ≈ 0.999
    def vec(seed: Long): Seq[Float] =
      (0 until 16).map(i => (((seed * 2654435761L + i * 40503L) % 2000 - 1000) / 1000.0).toFloat)
    def near(v: Seq[Float]): Seq[Float] =
      v.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.05f else x }
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.embeddingNearDupStream(
      mem.toDF().toDF("vec_id", "embedding"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt",
      threshold = 0.9, planes = 4, bands = 3)
    mem.addData((0L, vec(3)), (1L, near(vec(3))), (2L, vec(7)), (3L, vec(11)), (4L, vec(13)))
    q.processAllAvailable()
    mem.addData((100L, near(vec(7)))) // near-dup of a vector from batch 1
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("cos_sim")))
    assert(out.exists { case (a, b, _) => a == 0L && b == 1L }, s"within-batch pair missing: ${out.toSeq}")
    assert(out.exists { case (a, b, _) => a == 2L && b == 100L }, s"cross-batch pair missing: ${out.toSeq}")
    assert(out.forall(_._3 >= 0.9), s"below-threshold pair leaked: ${out.toSeq}")
    // the store admitted every vector exactly once
    assert(spark.read.parquet(s"$dir/store/vectors").count() == 6)
  }

  test("streaming near-dup batches are idempotent under re-execution (retry/restart)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("neardupretry").toString
    def vec(seed: Long): Seq[Float] =
      (0 until 16).map(i => (((seed * 2654435761L + i * 40503L) % 2000 - 1000) / 1000.0).toFloat)
    def near(v: Seq[Float]): Seq[Float] =
      v.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.05f else x }
    val b0 = Seq((0L, vec(3)), (1L, near(vec(3))), (2L, vec(7))).toDF("vec_id", "embedding")
    val b1 = Seq((100L, near(vec(7)))).toDF("vec_id", "embedding")
    def run(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Streaming.processNearDupBatch(batch, id, s"$dir/out", s"$dir/store",
        threshold = 0.9, planes = 4, bands = 3, idCol = "vec_id", vecCol = "embedding")
    run(b0, 0L)
    run(b1, 1L)
    val pairs = spark.read.parquet(s"$dir/out")
      .select("doc_a", "doc_b", "cos_sim").collect().toSet
    val nVec = spark.read.parquet(s"$dir/store/vectors").count()
    val nBuck = spark.read.parquet(s"$dir/store/buckets").count()
    // re-execute batch 1 (a foreachBatch retry / checkpoint-restart replay):
    // stores and pairs must come out IDENTICAL, not duplicated
    run(b1, 1L)
    assert(spark.read.parquet(s"$dir/out")
      .select("doc_a", "doc_b", "cos_sim").collect().toSet == pairs)
    assert(spark.read.parquet(s"$dir/store/vectors").count() == nVec)
    assert(spark.read.parquet(s"$dir/store/buckets").count() == nBuck)
    // cross-batch pair was found and survived the replay
    assert(pairs.exists(r => r.getLong(0) == 2L && r.getLong(1) == 100L), s"pairs: $pairs")
  }

  test("store compaction merges committed batch partitions without changing reads") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compact").toString
    def vec(seed: Long): Seq[Float] =
      (0 until 16).map(i => (((seed * 2654435761L + i * 40503L) % 2000 - 1000) / 1000.0).toFloat)
    // three committed batches land three partitions in each store table
    (0 to 2).foreach { b =>
      Streaming.processNearDupBatch(
        Seq((b * 10L, vec(b))).toDF("vec_id", "embedding"), b.toLong,
        s"$dir/out", s"$dir/store", 0.9, 4, 3, "vec_id", "embedding")
    }
    val before = spark.read.parquet(s"$dir/store/vectors")
      .select("vec_id").as[Long].collect().sorted.toSeq
    Streaming.compactStore(spark, s"$dir/store/vectors", upTo = 1L)
    Streaming.compactStore(spark, s"$dir/store/buckets", upTo = 1L)
    // rows identical, partition count reduced to {compacted, batch 2}
    val after = spark.read.parquet(s"$dir/store/vectors")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(after == before, s"compaction changed rows: $before -> $after")
    val partDirs = new java.io.File(s"$dir/store/vectors").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName).sorted
    assert(partDirs.toSeq == Seq("batch_id=1", "batch_id=2"), partDirs.toSeq)
    // a later batch (id 3) still reads the compacted store: near-dup of
    // batch 0's vector must be found cross-batch after compaction
    def near(v: Seq[Float]): Seq[Float] =
      v.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.05f else x }
    Streaming.processNearDupBatch(
      Seq((99L, near(vec(0)))).toDF("vec_id", "embedding"), 3L,
      s"$dir/out", s"$dir/store", 0.9, 4, 3, "vec_id", "embedding")
    val pairs = spark.read.parquet(s"$dir/out").select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 99L)), s"cross-batch pair lost after compaction: $pairs")
  }

  test("compaction resumes after a crash mid-delete without losing rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compactcrash").toString
    def vec(seed: Long): Seq[Float] =
      (0 until 16).map(i => (((seed * 2654435761L + i * 40503L) % 2000 - 1000) / 1000.0).toFloat)
    (0 to 2).foreach { b =>
      Streaming.processNearDupBatch(
        Seq((b * 10L, vec(b))).toDF("vec_id", "embedding"), b.toLong,
        s"$dir/out", s"$dir/store", 0.9, 4, 3, "vec_id", "embedding")
    }
    val table = s"$dir/store/vectors"
    val before = spark.read.parquet(table)
      .select("vec_id").as[Long].collect().sorted.toSeq
    // simulate a compaction run that crashed between the write-aside and
    // finishing the deletes: the complete tmp dir exists, and one of the
    // two source partitions is already gone
    spark.read.parquet(table).filter($"batch_id" <= 1L).drop("batch_id")
      .write.parquet(s"$table/.compact-1")
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete(); ()
    }
    rmr(new java.io.File(s"$table/batch_id=0"))
    // resuming must NOT recompute from the surviving partition (that would
    // drop batch 0's rows) — it finishes the delete + rename instead
    Streaming.compactStore(spark, table, upTo = 1L)
    val after = spark.read.parquet(table)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(after == before, s"crash-resume compaction lost rows: $before -> $after")
    val partDirs = new java.io.File(table).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName).sorted
    assert(partDirs.toSeq == Seq("batch_id=1", "batch_id=2"), partDirs.toSeq)
  }

  test("streaming text near-dup finds within-batch and cross-batch pairs, idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("textneardup").toString
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearBase = base + " tail"             // one appended word: jaccard 28/29
    val other = (100 to 130).map(i => s"x$i").mkString(" ")
    val nearOther = other + " tail"
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.textNearDupStream(
      mem.toDF().toDF("doc_id", "text"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", threshold = 0.7)
    mem.addData((1L, base), (2L, nearBase), (3L, other))
    q.processAllAvailable()
    mem.addData((100L, nearOther)) // near-dup of a doc from batch 1
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard")))
    assert(out.exists { case (a, b, _) => a == 1L && b == 2L }, s"within-batch pair missing: ${out.toSeq}")
    assert(out.exists { case (a, b, _) => a == 3L && b == 100L }, s"cross-batch pair missing: ${out.toSeq}")
    assert(out.forall(_._3 >= 0.7), s"below-threshold pair leaked: ${out.toSeq}")
    // replay batch 1 (retry/restart): pairs and store must be unchanged
    val nPairs = out.length
    val nBands = spark.read.parquet(s"$dir/store/bands").count()
    Streaming.processTextNearDupBatch(
      Seq((100L, nearOther)).toDF("doc_id", "text"), 1L,
      s"$dir/out", s"$dir/store", 0.7, 16, 4, "doc_id", "text")
    assert(spark.read.parquet(s"$dir/out").count() == nPairs)
    assert(spark.read.parquet(s"$dir/store/bands").count() == nBands)
  }

  test("streaming decontamination flags eval leakage as training docs land") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("decontam").toString
    val evalText = (1 to 20).map(i => s"e$i").mkString(" ")
    val evalSet = graft.operators.TextOps.evalShingleSet(
      Seq((0L, evalText)).toDF("doc_id", "text")).persist()
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.decontaminateStream(
      mem.toDF().toDF("doc_id", "text"), evalSet,
      s"$dir/out", s"$dir/ckpt", minFrac = 0.5)
    mem.addData((1L, evalText), (2L, "a b c d e f g h"))
    q.processAllAvailable()
    mem.addData((3L, evalText + " extra"))   // later batch still flagged
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("contaminated")).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true), s"got $out")
    evalSet.unpersist()
  }

  test("bloom seen-ever flagging: cross-batch repeats flagged, new content certain-new") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("bloom").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.bloomDedupStream(
      mem.toDF().toDF("doc_id", "text"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", expectedKeys = 1000L)
    mem.addData((1L, "alpha doc"), (2L, "beta doc"))
    q.processAllAvailable()
    mem.addData((3L, "alpha doc"), (4L, "gamma doc"))  // 3 repeats batch-1 content
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("probably_seen")).toMap
    assert(!out(1L) && !out(2L), "first batch sees an empty prior filter")
    assert(out(3L), "cross-batch repeated content must be flagged")
    assert(!out(4L), "fresh content is certain-new at this filter load")
    // replaying batch 0 sees the same empty prior: identical flags + filter
    val priorBits = spark.read.parquet(s"$dir/store/bloom").count()
    Streaming.processBloomBatch(
      Seq((1L, "alpha doc"), (2L, "beta doc")).toDF("doc_id", "text"), 0L,
      s"$dir/out", s"$dir/store", 1000L, 0.01, "doc_id", "text")
    val replay = spark.read.parquet(s"$dir/out/batch_id=0")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("probably_seen")).toMap
    assert(replay == Map(1L -> false, 2L -> false))
    assert(spark.read.parquet(s"$dir/store/bloom").count() == priorBits)
  }

  test("streaming HLL distinct: running estimate equals batch HLL of all data, idempotently") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, max}
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("hllstream").toString
    val mem = MemoryStream[(String, String)]
    val q = Streaming.hllDistinctStream(
      mem.toDF().toDF("source", "tok"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt")
    val b0 = (0 until 400).map(i => ("web", s"w$i")) ++ Seq(("books", "alpha"))
    val b1 = (200 until 600).map(i => ("web", s"w$i")) ++ Seq(("books", "beta"))
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    // the batch-1 snapshot must equal the BATCH operator run on b0 ∪ b1
    val streamed = spark.read.parquet(s"$dir/out/batch_id=1")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val whole = (b0 ++ b1).toDF("source", "tok")
    val batchEst = Sketches.hllEstimate(
      Sketches.hllRegisters(whole, col("tok"), Seq("source")), Seq("source"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(streamed == batchEst, s"streamed=$streamed batch=$batchEst")
    // replaying batch 1 sees only batch-0 store state: identical snapshot
    Streaming.processHllBatch(b1.toDF("source", "tok"), 1L,
      s"$dir/out", s"$dir/store", "source", "tok")
    val replay = spark.read.parquet(s"$dir/out/batch_id=1")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(replay == streamed)
  }

  test("streaming quantile monitor: merged-sketch quantiles equal one batch sketch, idempotently") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("kllstream").toString
    val mem = MemoryStream[(String, Long)]
    val q = Streaming.quantileMonitorStream(
      mem.toDF().toDF("source", "v"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", "source", "v",
      k = 4096, qs = Seq(0.5, 0.9)) // exact regime: no compaction at test size
    // deterministic permuted values so ranks are known
    def perm(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong * 2654435761L) % 100000L)
    val b0 = perm(0, 500).map(("web", _)) ++ perm(0, 50).map(("books", _))
    val b1 = perm(500, 900).map(("web", _)) ++ perm(50, 120).map(("books", _))
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    def snap() = spark.read.parquet(s"$dir/out/batch_id=1")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    val streamed = snap()
    // batch truth: one kll_sketch over b0 ∪ b1 (exact regime ⇒ exact ranks)
    val whole = (b0 ++ b1).toDF("source", "v")
    val batchQ = graft.operators.Kll.quantilesFromSketch(
      whole.groupBy("source").agg(expr("kll_sketch(v, 4096)").as("sk")),
      Seq("source"), "sk", Seq(0.5, 0.9))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    assert(streamed == batchQ, s"streamed=$streamed batch=$batchQ")
    // and both equal brute-force ranks
    for (src <- Seq("web", "books"); qq <- Seq(0.5, 0.9)) {
      val vals = (b0 ++ b1).filter(_._1 == src).map(_._2).sorted
      assert(streamed((src, qq)) == vals(math.floor(qq * (vals.length - 1)).toInt))
    }
    // replaying batch 1 sees only batch-0 store state: identical snapshot
    Streaming.processQuantileBatch(b1.toDF("source", "v"), 1L,
      s"$dir/out", s"$dir/store", "source", "v", 4096, Seq(0.5, 0.9))
    assert(snap() == streamed)
  }

  test("streaming AUC monitor equals the batch operator over merged counts, idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("aucstream").toString
    val mem = MemoryStream[(Long, Long)]
    val q = Streaming.aucMonitorStream(mem.toDF().toDF("score", "y"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", "score", "y")
    // deterministic scores with ties across batches: score = i % 37,
    // label biased to high scores so the AUC is non-trivial
    def rows(lo: Int, hi: Int) = (lo until hi).map { i =>
      val s = (i.toLong * 2654435761L) % 37L
      (s, if (s * 3 % 7 > 2) 1L else 0L)
    }
    val b0 = rows(0, 400)
    val b1 = rows(400, 900)
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    def snap() = spark.read.parquet(s"$dir/out/batch_id=1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).head
    val streamed = snap()
    val batch = graft.operators.LmOps.binaryAuc(
      (b0 ++ b1).toDF("score", "y"), "score", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).head
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed._1 == 900L)
    // replaying batch 1 sees only batch-0 store state: identical snapshot
    Streaming.processAucBatch(b1.toDF("score", "y"), 1L,
      s"$dir/out", s"$dir/store", "score", "y")
    assert(snap() == streamed)
  }

  test("streaming KS monitor equals the batch operator over merged counts, idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("ksstream").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.ksMonitorStream(mem.toDF().toDF("v", "g"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", "v", "g", "ref", "live")
    // live is ref shifted by +7 on a 0..49 value grid; a third group is
    // noise the monitor must ignore
    def rows(lo: Int, hi: Int) = (lo until hi).flatMap { i =>
      val v = (i.toLong * 2654435761L) % 50L
      Seq((v, "ref"), (v + 7L, "live"), (v, "other"))
    }
    val b0 = rows(0, 300)
    val b1 = rows(300, 800)
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    def snap() = spark.read.parquet(s"$dir/out/batch_id=1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).head
    val streamed = snap()
    val batch = graft.operators.Profile.ksTwoSample(
      (b0 ++ b1).toDF("v", "g"), "v", "g", "ref", "live")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).head
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed._2 == 800L && streamed._3 == 800L && streamed._6 > 0L)
    // replaying batch 1 sees only batch-0 store state: identical snapshot
    Streaming.processKsBatch(b1.toDF("v", "g"), 1L,
      s"$dir/out", s"$dir/store", "v", "g", "ref", "live")
    assert(snap() == streamed)
  }

  test("streaming chi-square monitor equals the batch operator over merged counts, idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("chistream").toString
    val mem = MemoryStream[(String, String)]
    val q = Streaming.chiSquareMonitorStream(mem.toDF().toDF("src", "lang"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", "src", "lang")
    // association that only emerges once both batches land
    def rows(lo: Int, hi: Int) = (lo until hi).map { i =>
      val h = (i.toLong * 2654435761L) % 12L
      (s"s${h % 3}", if ((h / 3 + i % 2) % 2 == 0) "en" else "fr")
    }
    val b0 = rows(0, 250)
    val b1 = rows(250, 700)
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    def snap() = spark.read.parquet(s"$dir/out/batch_id=1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).head
    val streamed = snap()
    val batch = graft.operators.Profile.chiSquare(
      (b0 ++ b1).toDF("src", "lang"), "src", "lang")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).head
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed._1 == 700L)
    // replaying batch 1 sees only batch-0 store state: identical snapshot
    Streaming.processChiSquareBatch(b1.toDF("src", "lang"), 1L,
      s"$dir/out", s"$dir/store", "src", "lang")
    assert(snap() == streamed)
  }

  test("streaming AP monitor equals the batch operator over merged counts, idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("apstream").toString
    val mem = MemoryStream[(Long, Long)]
    val q = Streaming.apMonitorStream(mem.toDF().toDF("score", "y"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", "score", "y")
    def rows(lo: Int, hi: Int) = (lo until hi).map { i =>
      val s = (i.toLong * 2654435761L) % 43L
      (s, if (s * 5 % 9 > 3) 1L else 0L)
    }
    val b0 = rows(0, 350)
    val b1 = rows(350, 900)
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    def snap() = spark.read.parquet(s"$dir/out/batch_id=1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).head
    val streamed = snap()
    val batch = graft.operators.LmOps.binaryAp(
      (b0 ++ b1).toDF("score", "y"), "score", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).head
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed._1 == 900L && streamed._4 > 0L)
    // replaying batch 1 sees only batch-0 store state: identical snapshot
    Streaming.processApBatch(b1.toDF("score", "y"), 1L,
      s"$dir/out", s"$dir/store", "score", "y")
    assert(snap() == streamed)
  }

  test("streaming PSI monitor equals the batch operator over merged counts, idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("psistream").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.psiMonitorStream(mem.toDF().toDF("v", "g"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", "v", "g", "ref", "live",
      buckets = 8)
    // live is ref shifted by +9 on a 0..39 grid; an ignored third group
    def rows(lo: Int, hi: Int) = (lo until hi).flatMap { i =>
      val v = (i.toLong * 2654435761L) % 40L
      Seq((v, "ref"), (v + 9L, "live"), (v, "other"))
    }
    val b0 = rows(0, 250)
    val b1 = rows(250, 700)
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    def snap() = spark.read.parquet(s"$dir/out/batch_id=1")
      .orderBy("bucket").collect().map(_.toSeq).toSeq
    val streamed = snap()
    val batch = graft.operators.Profile.psi(
      (b0 ++ b1).toDF("v", "g"), "v", "g", "ref", "live", buckets = 8)
      .orderBy("bucket").collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
    assert(streamed.head(7).asInstanceOf[Double] > 0.0) // psi6 non-trivial
    // replaying batch 1 sees only batch-0 store state: identical snapshot
    Streaming.processPsiBatch(b1.toDF("v", "g"), 1L,
      s"$dir/out", s"$dir/store", "v", "g", "ref", "live", 8)
    assert(snap() == streamed)
  }

  test("streaming CUSUM alarm: silent under null, fires at the planted drift batch, idempotent, equals batch closed form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("cusumstream").toString
    // per-batch stat = sum of the batch's values; target 1000, allowance
    // 50 (±5% ignored), threshold 300 (persistent evidence pages)
    val mem = MemoryStream[Long]
    val q = Streaming.cusumAlarmStream(mem.toDF().toDF("v"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt",
      b => b.agg(coalesce(sum(col("v")), lit(0L))).collect()(0).getLong(0),
      target = 1000L, allowance = 50L, threshold = 300L)
    // batches 0-3: null regime, stats inside target ± allowance — the
    // recursion must stay pinned at 0 (no creep, no false alarm);
    // batches 4-6: a persistent +150 shift — S⁺ grows 100/batch and must
    // fire EXACTLY at batch 6 (100, 200, 300)
    val batches = Seq(1010L, 960L, 1040L, 990L, 1150L, 1150L, 1150L)
    batches.foreach { s => mem.addData(s); q.processAllAvailable() }
    q.stop()
    def snap(b: Int) = spark.read.parquet(s"$dir/out/batch_id=$b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).head
    val got = batches.indices.map(snap)
    assert(got.take(4).forall(r => r._2 == 0L && r._4 == 0L),
      s"null regime must stay at S⁺ = 0 with no alarms: $got")
    assert(got.forall(_._5 == 0L), "no downward alarm anywhere")
    assert(got.map(_._2).drop(4) == Seq(100L, 200L, 300L),
      s"planted drift must accumulate 100/batch: $got")
    assert(got.map(_._4) == Seq(0L, 0L, 0L, 0L, 0L, 0L, 1L),
      s"the alarm must fire exactly at batch 6: $got")
    // replaying batch 6 reads only state < 6: identical emission
    Streaming.processCusumBatch(spark, 1150L, 6L, s"$dir/out", s"$dir/store",
      1000L, 50L, 300L)
    assert(snap(6) == got(6))
    // the O(1) streaming fold equals the batch window closed form over
    // the same (batch_id, stat) sequence
    val batch = graft.operators.Profile.cusum(
      batches.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("b", "x")
        .withColumn("target", lit(1000L)).withColumn("allowance", lit(50L))
        .withColumn("threshold", lit(300L)),
      "b", "x", "target", "allowance", "threshold")
      .orderBy("b").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(batch == got, s"fold and closed form disagree:\n$batch\n$got")
  }

  test("streaming W1 monitor equals the batch operator over merged counts, idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("w1stream").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.w1MonitorStream(mem.toDF().toDF("v", "g"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", "v", "g", "ref", "live")
    // live is ref shifted by +9, so the merged-window W1 must be exactly
    // 9.0 (shift closed form); an ignored third group
    def rows(lo: Int, hi: Int) = (lo until hi).flatMap { i =>
      val v = (i.toLong * 2654435761L) % 40L
      Seq((v, "ref"), (v + 9L, "live"), (v, "other"))
    }
    val b0 = rows(0, 250)
    val b1 = rows(250, 700)
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    def snap() = spark.read.parquet(s"$dir/out/batch_id=1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).head
    val streamed = snap()
    val batch = graft.operators.Profile.wasserstein1(
      (b0 ++ b1).toDF("v", "g"), "v", "g", "ref", "live")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).head
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed._1 == 700L && streamed._4 == 9000000L,
      s"shift-by-9 closed form must survive the store merge: $streamed")
    // replaying batch 1 sees only batch-0 store state: identical snapshot
    Streaming.processW1Batch(b1.toDF("v", "g"), 1L,
      s"$dir/out", s"$dir/store", "v", "g", "ref", "live")
    assert(snap() == streamed)
  }

  test("streaming JS monitor equals the batch operator over merged counts, idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("jsstream").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.jsMonitorStream(mem.toDF().toDF("v", "g"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", "v", "g", "ref", "live",
      buckets = 8)
    def rows(lo: Int, hi: Int) = (lo until hi).flatMap { i =>
      val v = (i.toLong * 2654435761L) % 40L
      Seq((v, "ref"), (v + 9L, "live"), (v, "other"))
    }
    val b0 = rows(0, 250)
    val b1 = rows(250, 700)
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    def snap() = spark.read.parquet(s"$dir/out/batch_id=1")
      .orderBy("bucket").collect().map(_.toSeq).toSeq
    val streamed = snap()
    val batch = graft.operators.Profile.jsDivergence(
      (b0 ++ b1).toDF("v", "g"), "v", "g", "ref", "live", buckets = 8)
      .orderBy("bucket").collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
    val js = streamed.head(7).asInstanceOf[Double]
    assert(js > 0.0 && js < 0.693148, s"js6 must be inside (0, ln2): $js")
    // replaying batch 1 sees only batch-0 store state: identical snapshot
    Streaming.processJsBatch(b1.toDF("v", "g"), 1L,
      s"$dir/out", s"$dir/store", "v", "g", "ref", "live", 8)
    assert(snap() == streamed)
  }

  test("streaming calibration monitor equals the batch report over merged counts, idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("calstream").toString
    val mem = MemoryStream[(Long, Long)]
    val q = Streaming.calibrationMonitorStream(mem.toDF().toDF("pm", "y"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", "pm", "y", bins = 10)
    // probabilities over the full micro domain; label rate rises with pm
    // so conf≠acc in some bins (a non-trivial ECE)
    def rows(lo: Int, hi: Int) = (lo until hi).map { i =>
      val pm = (i.toLong * 2654435761L) % 1000001L
      (pm, if ((pm / 997L + i % 5) % 11L > 4L) 1L else 0L)
    }
    val b0 = rows(0, 350)
    val b1 = rows(350, 900)
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    def snap() = spark.read.parquet(s"$dir/out/batch_id=1")
      .orderBy("bin").collect().map(_.toSeq).toSeq
    val streamed = snap()
    val batch = graft.operators.LmOps.calibrationReport(
      (b0 ++ b1).toDF("pm", "y"), "pm", "y", bins = 10)
      .orderBy("bin").collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
    assert(streamed.map(_(1).asInstanceOf[Long]).sum == 900L)
    // replaying batch 1 sees only batch-0 store state: identical snapshot
    Streaming.processCalibrationBatch(b1.toDF("pm", "y"), 1L,
      s"$dir/out", s"$dir/store", "pm", "y", 10)
    assert(snap() == streamed)
  }

  test("streaming tau-b monitor equals the batch operator over merged cells, idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("taustream").toString
    val mem = MemoryStream[(Long, Long)]
    val q = Streaming.tauMonitorStream(mem.toDF().toDF("xv", "yv"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", "xv", "yv")
    // coarse, mostly-monotone with planted discordance and heavy ties
    def rows(lo: Int, hi: Int) = (lo until hi).map { i =>
      val h = (i.toLong * 2654435761L) % 997L
      val x = h % 9L
      val y = if (h % 13L == 5L) 8L - x else (h >> 2) % 3L + x
      (x, y)
    }
    val b0 = rows(0, 300)
    val b1 = rows(300, 800)
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    def snap() = spark.read.parquet(s"$dir/out/batch_id=1")
      .collect().map(_.toSeq).toSeq
    val streamed = snap()
    val batch = graft.operators.Profile.kendallTauB(
      (b0 ++ b1).toDF("xv", "yv"), "xv", "yv")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
    assert(streamed.head(0).asInstanceOf[Long] == 800L)
    val tau = streamed.head(5).asInstanceOf[Double]
    assert(tau > 0.0 && tau < 1.0, s"tau should be non-trivial, got $tau")
    // replaying batch 1 sees only batch-0 store state: identical snapshot
    Streaming.processTauBatch(b1.toDF("xv", "yv"), 1L,
      s"$dir/out", s"$dir/store", "xv", "yv")
    assert(snap() == streamed)
  }

  test("streaming isotonic monitor equals the batch PAV fit over merged counts, idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("isostream").toString
    val mem = MemoryStream[(Long, Long)]
    val q = Streaming.isotonicMonitorStream(mem.toDF().toDF("pm", "y"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", "pm", "y", bins = 16)
    // label rate mostly rises with pm but with planted local violations,
    // so PAV actually pools (a trivial monotone input would pass even if
    // pooling broke)
    def rows(lo: Int, hi: Int) = (lo until hi).map { i =>
      val pm = (i.toLong * 2654435761L) % 1000001L
      val bump = if ((pm / 62500L) % 4L == 2L) 700L else 0L
      (pm, if ((pm / 1500L + bump + i % 7) % 13L > 7L) 1L else 0L)
    }
    val b0 = rows(0, 400)
    val b1 = rows(400, 1000)
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    def snap() = spark.read.parquet(s"$dir/out/batch_id=1")
      .orderBy("bin").collect().map(_.toSeq).toSeq
    val streamed = snap()
    val batch = graft.operators.LmOps.isotonicCalibrate(
      (b0 ++ b1).toDF("pm", "y"), "pm", "y", bins = 16)
      .orderBy("bin").collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
    assert(streamed.map(_(1).asInstanceOf[Long]).sum == 1000L)
    // the emitted fit is non-decreasing (the isotonic contract)
    val iso = streamed.map(_(4).asInstanceOf[Long])
    assert(iso == iso.sorted, s"iso_micro not monotone: $iso")
    // replaying batch 1 sees only batch-0 store state: identical snapshot
    Streaming.processIsotonicBatch(b1.toDF("pm", "y"), 1L,
      s"$dir/out", s"$dir/store", "pm", "y", 16)
    assert(snap() == streamed)
  }

  test("streaming funnel equals the batch operator under ts-ordered batches, idempotently") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Funnel
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("funnelstream").toString
    val steps = Seq("view", "click", "purchase")
    // (user, ts, type): u1 completes; u2 clicks before viewing (chain broken
    // until a later click); u3 never clicks; u4 appears only in batch 2
    val all = Seq(
      (1L, 10L, "view"), (2L, 11L, "click"), (3L, 12L, "view"), (1L, 13L, "click"),
      (2L, 20L, "view"), (1L, 21L, "purchase"), (2L, 22L, "click"), (4L, 23L, "view"),
      (3L, 24L, "purchase"), (2L, 25L, "purchase"), (4L, 26L, "click"))
    val (b0, b1) = all.partition(_._2 < 20L)
    val mem = MemoryStream[(Long, Long, String)]
    val q = Streaming.funnelStream(
      mem.toDF().toDF("user_id", "ts", "event_type"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", steps)
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    def snap(path: String) = spark.read.parquet(path)
      .collect().map(r => r.getLong(0) ->
        (0 until 3).map(i => Option(r.get(i + 1)).map(_.asInstanceOf[Long]))).toMap
    val streamed = snap(s"$dir/out/batch_id=1")
    val batchRes = Funnel.steps(all.toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", steps)
      .collect().map(r => r.getLong(0) ->
        (0 until 3).map(i => Option(r.get(i + 1)).map(_.asInstanceOf[Long]))).toMap
    assert(streamed == batchRes, s"streamed=$streamed batch=$batchRes")
    // replaying batch 1 reads only batch-0 state: identical snapshot
    Streaming.processFunnelBatch(b1.toDF("user_id", "ts", "event_type"), 1L,
      s"$dir/out", s"$dir/store", steps, "user_id", "ts", "event_type")
    assert(snap(s"$dir/out/batch_id=1") == streamed)
  }

  test("streaming k-anonymity audit equals the batch audit, incrementally and idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("kanonstream").toString
    // batch 0 leaves (US,A) at 2 (risky at k=3); batch 1's third US-A row
    // flips it safe — the audit must reflect accumulated counts, not the
    // last batch's
    val b0 = Seq(("US", "A"), ("US", "A"), ("FR", "B"))
    val b1 = Seq(("US", "A"), ("FR", "B"), ("DE", "C"))
    val mem = MemoryStream[(String, String)]
    val q = Streaming.kAnonymityStream(mem.toDF().toDF("c1", "c2"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", Seq("c1", "c2"), k = 3)
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    def snap(path: String) = spark.read.parquet(path).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val streamed = snap(s"$dir/out/batch_id=1")
    val batchRes = graft.operators.Profile.kAnonymity(
      (b0 ++ b1).toDF("c1", "c2"), Seq("c1", "c2"), k = 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(streamed == batchRes, s"streamed=$streamed batch=$batchRes")
    assert(streamed.find(t => t._1 == "US").get._4 == false,
      "US-A reached 3 across batches — must be safe now")
    assert(snap(s"$dir/out/batch_id=0").find(_._1 == "US").get._4 == true,
      "US-A was risky after batch 0")
    // replaying batch 1 reads only batch-0 deltas: identical audit
    Streaming.processKAnonymityBatch(b1.toDF("c1", "c2"), 1L,
      s"$dir/out", s"$dir/store", Seq("c1", "c2"), 3L)
    assert(snap(s"$dir/out/batch_id=1") == streamed)
  }

  test("streaming drift monitor equals the batch TV report, incrementally") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("driftstream").toString
    val ref = Seq(0L, 0L, 1L, 1L, 2L, 2L).toDF("bucket")
    // the stream skews toward bucket 0 as batches accumulate
    val b0 = Seq(0L, 1L, 2L)
    val b1 = Seq(0L, 0L, 0L)
    val mem = MemoryStream[Long]
    val q = Streaming.bucketDriftStream(mem.toDF().toDF("bucket"), ref,
      s"$dir/out", s"$dir/store", s"$dir/ckpt", "bucket")
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    def snap(path: String) = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    val streamed = snap(s"$dir/out/batch_id=1")
    val batchRes = graft.operators.Profile.bucketDrift(
      (b0 ++ b1).toDF("bucket"), ref, "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    assert(streamed == batchRes, s"streamed=$streamed batch=$batchRes")
    // batch 0 was uniform like the reference → TV 0; batch 1 skews it
    assert(snap(s"$dir/out/batch_id=0").head._6 == 0L, "uniform start drifts zero")
    assert(streamed.head._6 > 0L, "accumulated skew must register")
    // replaying batch 1 reads only batch-0 deltas: identical report
    Streaming.processBucketDriftBatch(b1.toDF("bucket"), 1L,
      ref.groupBy("bucket").count().withColumnRenamed("count", "n_rows"),
      s"$dir/out", s"$dir/store", "bucket")
    assert(snap(s"$dir/out/batch_id=1") == streamed)
  }

  test("streaming SCD2 equals the batch history, splits versions on late data, idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("scd2stream").toString
    // key 1 timeline: a@10, a@30 (collapse) … then b@20 arrives LATE in
    // batch 1 — the true history becomes a@10, b@20, a@30: three versions,
    // which a collapsed store could not reconstruct
    val b0 = Seq((1L, 10L, 1L, "a"), (1L, 30L, 2L, "a"), (2L, 10L, 3L, "x"))
    val b1 = Seq((1L, 20L, 4L, "b"), (2L, 40L, 5L, "y"), (2L, 40L, 5L, "y")) // dup delivery
    val mem = MemoryStream[(Long, Long, Long, String)]
    val q = Streaming.scd2Stream(
      mem.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt")
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    def snap(path: String) = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getBoolean(5)))
      .sortBy(t => (t._1, t._2)).toSeq
    val streamed = snap(s"$dir/out/batch_id=1")
    val batchRes = graft.operators.Delta.scd2(
      (b0 ++ b1).distinct.toDF("user_id", "ts", "event_id", "event_type"),
      "user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getBoolean(5)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(streamed == batchRes)
    assert(streamed.filter(_._1 == 1L).map(t => (t._3, t._4, t._5)) ==
      Seq(("a", 10L, Some(20L)), ("b", 20L, Some(30L)), ("a", 30L, None)),
      "late b@20 must split the collapsed a-run into three versions")
    // replaying batch 1 reads only batch-0 state: identical history
    Streaming.processScd2Batch(b1.toDF("user_id", "ts", "event_id", "event_type"),
      1L, s"$dir/out", s"$dir/store", "user_id", "ts", "event_id", "event_type")
    assert(snap(s"$dir/out/batch_id=1") == streamed)
  }

  test("streaming directed as-of equals batch after late data, all directions, idempotently") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // mixed event rows: (is_left, key, ts, rid, v). Batch 1 delivers LATE
    // rights that IMPROVE earlier decisions: k=1's left@100 first matches
    // backward 90, then a nearer 105 arrives (the nearest late-data case);
    // k=2's left@50 has NO forward match until 70 lands in batch 1.
    val b0 = Seq((true, 1L, 100L, 0L, 0.0), (false, 1L, 90L, 1L, 0.9),
      (true, 2L, 50L, 0L, 0.0), (true, 3L, 10L, 0L, 0.0))
    val b1 = Seq((false, 1L, 105L, 2L, 1.05), (false, 2L, 70L, 3L, 0.7),
      (true, 1L, 104L, 0L, 0.0))
    val all = b0 ++ b1
    for (dir0 <- Seq("backward", "forward", "nearest")) {
      val dir = Files.createTempDirectory(s"asofstream_$dir0").toString
      val mem = MemoryStream[(Boolean, Long, Long, Long, Double)]
      val q = Streaming.asOfStream(
        mem.toDF().toDF("is_left", "k", "ts", "rid", "v"),
        s"$dir/out", s"$dir/store", s"$dir/ckpt",
        isLeft = col("is_left"), "k", "ts", "rid", Seq("v"),
        direction = dir0, tolerance = 40L)
      mem.addData(b0: _*)
      q.processAllAvailable()
      mem.addData(b1: _*)
      q.processAllAvailable()
      q.stop()
      def latest() = Streaming.asOfLatest(spark, s"$dir/out", "ts")
        .select("k", "ts", "asof_v").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.get(2)).toMap
      val streamed = latest()
      val df = all.toDF("is_left", "k", "ts", "rid", "v")
      val want = graft.operators.AsOfJoin.asOfDirected(
          df.filter(col("is_left")), df.filter(!col("is_left")),
          "k", "ts", "rid", Seq("v"), direction = dir0, tolerance = 40L)
        .select("k", "ts", "asof_v").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.get(2)).toMap
      assert(streamed == want, s"dir=$dir0: $streamed vs $want")
      if (dir0 == "nearest")
        assert(streamed((1L, 100L)) == 1.05, "the late 105 must displace 90")
      if (dir0 == "forward")
        assert(streamed((2L, 50L)) == 0.7, "left@50 gains its forward match late")
      // replaying batch 1 reads only batch-0 stores — identical decisions
      val before = spark.read.parquet(s"$dir/out/batch_id=1")
        .select("k", "ts", "asof_v").collect().map(_.toSeq).toSet
      Streaming.processAsOfBatch(b1.toDF("is_left", "k", "ts", "rid", "v"), 1L,
        s"$dir/out", s"$dir/store", col("is_left"), "k", "ts", "rid", Seq("v"),
        dir0, 40L)
      val after = spark.read.parquet(s"$dir/out/batch_id=1")
        .select("k", "ts", "asof_v").collect().map(_.toSeq).toSet
      assert(after == before, s"dir=$dir0: replay must rebuild identical output")
    }
  }

  test("streaming WebDataset ingest emits members as tar shards land") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("wdsstream").toString
    val outDir = s"$dir/out"
    def shard(path: String, ids: Range): Unit = {
      val entries = ids.flatMap(i => Seq(
        graft.sources.Tar.Entry(s"$i.txt", s"caption $i".getBytes("UTF-8")),
        graft.sources.Tar.Entry(s"$i.bin", Array.tabulate[Byte](10)(b => (i + b).toByte))))
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        graft.sources.Tar.write(entries))
    }
    shard(s"$dir/part-0.tar", 0 until 3)
    val q = Streaming.wdsStream(spark, dir).writeStream
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable()
    assert(spark.read.parquet(outDir).count() == 6)
    shard(s"$dir/part-1.tar", 3 until 8)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(outDir)
      .select(col("key"), col("ext"), col("bytes")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Array[Byte]](2)).toMap
    assert(got.size == 16)
    assert(new String(got(("6", "txt")), "UTF-8") == "caption 6")
    assert(got(("7", "bin")).sameElements(Array.tabulate[Byte](10)(b => (7 + b).toByte)))
  }

  test("streaming header-only census equals the batch wds census on the same shards") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("wdscensus").toString
    val outDir = s"$dir/out"
    def shard(path: String, ids: Range): Unit = {
      val entries = ids.flatMap(i => Seq(
        graft.sources.Tar.Entry(s"$i.txt", s"caption text $i".getBytes("UTF-8")),
        graft.sources.Tar.Entry(s"$i.img", Array.fill[Byte](700 + i)(i.toByte))))
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        graft.sources.Tar.write(entries))
    }
    shard(s"$dir/part-0.tar", 0 until 4)
    val q = Streaming.wdsCensusStream(spark, dir).writeStream
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable()
    assert(spark.read.parquet(outDir).count() == 8)
    // more shards land: the census extends incrementally
    shard(s"$dir/part-1.tar", 4 until 10)
    q.processAllAvailable()
    q.stop()
    def censusOf(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long)] =
      df.select(col("key"), col("ext"), col("size").cast("long")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val streamed = censusOf(spark.read.parquet(outDir))
    // the batch twin: the wds DataSource V2's bytes-pruned census (q122's plan)
    val batchDf = spark.read.format("wds").load(dir).select(col("key"), col("ext"), col("size"))
    assert(batchDf.queryExecution.executedPlan.toString.contains("bytes=false"),
      "batch census comparator lost its bytes pruning")
    assert(streamed == censusOf(batchDf))
    assert(streamed.size == 20)
    assert(streamed(("7", "img", 707L)), "sizes must come from the member headers")
  }

  test("streaming crawl ingest emits records as .warc.gz segments land") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("crawlstream").toString
    val outDir = s"$dir/out"
    def segment(path: String, ids: Range): Unit = {
      val recs = ids.map(i => graft.sources.Warc.Record(
        s"<urn:uuid:doc-$i>", "response", s"http://x/$i", s"body $i".getBytes("UTF-8")))
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        graft.sources.Warc.write(recs))
    }
    segment(s"$dir/seg-0.warc.gz", 0 until 3)
    val q = Streaming.crawlStream(spark, dir).writeStream
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable()
    assert(spark.read.parquet(outDir).count() == 3)
    // a second segment lands mid-stream: only its records are new
    segment(s"$dir/seg-1.warc.gz", 3 until 8)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(outDir)
      .select(col("record_id"), col("text")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == 8)
    assert(got("<urn:uuid:doc-6>") == "body 6")
  }

  test("streaming span removal rewrites against spans seen so far, idempotently") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("spanrm").toString
    val run = (1 to 12).map(i => s"c$i").mkString(" ") // 12-token shared run
    val uniq = (100 to 114).map(i => s"w$i").mkString(" ")
    // batch 0: the run lands once (plus a unique doc) — nothing duplicated
    // yet, both docs must pass through byte-identical
    Streaming.processRemoveSpansBatch(
      Seq((1L, run), (2L, uniq)).toDF("doc_id", "text"), 0L,
      s"$dir/out", s"$dir/store", 10, "doc_id", "text")
    val b0 = spark.read.parquet(s"$dir/out/batch_id=0")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(b0 == Map(1L -> run, 2L -> uniq), s"got $b0")
    // batch 1: the run arrives again → ITS copy is excised (doc 1, already
    // emitted, stays — flag-forward semantics); fresh text is untouched
    Streaming.processRemoveSpansBatch(
      Seq((3L, run + " t1 t2 t3")).toDF("doc_id", "text"), 1L,
      s"$dir/out", s"$dir/store", 10, "doc_id", "text")
    val b1 = spark.read.parquet(s"$dir/out/batch_id=1")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))).toMap
    assert(b1 == Map(3L -> ((12L, "t1 t2 t3"))), s"got $b1")
    // replaying batch 1 (same id) reads only the pre-batch store: the
    // half-admitted batch-1 counts must not double-count its own spans
    Streaming.processRemoveSpansBatch(
      Seq((3L, run + " t1 t2 t3")).toDF("doc_id", "text"), 1L,
      s"$dir/out", s"$dir/store", 10, "doc_id", "text")
    val b1r = spark.read.parquet(s"$dir/out/batch_id=1")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"))).toMap
    assert(b1r == Map(3L -> "t1 t2 t3"), s"replay changed the rewrite: $b1r")
    // a WITHIN-batch duplicate also triggers removal with an empty store
    Streaming.processRemoveSpansBatch(
      Seq((4L, uniq), (5L, uniq)).toDF("doc_id", "text"), 2L,
      s"$dir/out", s"$dir/store", 10, "doc_id", "text")
    val b2 = spark.read.parquet(s"$dir/out/batch_id=2")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(b2 == Map(4L -> "", 5L -> ""), s"got $b2")
  }

  test("streaming weighted sample: running top-k equals the batch operator, idempotently") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("wsample").toString
    val all = (0L until 2000L).map(i => (i, if (i % 3 == 0) 8.0 else 1.0))
    val (b1, b2) = all.splitAt(1200)
    val mem = MemoryStream[(Long, Double)]
    val q = Streaming.weightedSampleStream(
      mem.toDF().toDF("doc_id", "w"), col("w"), k = 50,
      s"$dir/out", s"$dir/store", s"$dir/ckpt")
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val latest = spark.read.parquet(s"$dir/out/batch_id=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = graft.operators.TextOps
      .weightedSample(all.toDF("doc_id", "w"), col("w"), k = 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(latest == exact, "running reservoir must equal the batch top-k over everything ingested")
    // replaying batch 1 rebuilds the identical partition
    Streaming.processWeightedSampleBatch(b2.toDF("doc_id", "w"), 1L,
      col("w"), 50, s"$dir/out", s"$dir/store", "doc_id")
    val replay = spark.read.parquet(s"$dir/out/batch_id=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replay == exact)
  }

  test("streaming weighted sample: re-ingested docs appear once, never twice") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("wsampledup").toString
    // batch 0 and batch 1 OVERLAP: doc_ids 0..99 arrive twice with the
    // same weight (same deterministic priority). Prior store + candidates
    // both hold them — the reservoir must keep each doc at most once.
    val b0 = (0L until 100L).map(i => (i, 8.0))
    val b1 = (0L until 150L).map(i => (i, 8.0))
    Streaming.processWeightedSampleBatch(b0.toDF("doc_id", "w"), 0L,
      col("w"), 40, s"$dir/out", s"$dir/store", "doc_id")
    Streaming.processWeightedSampleBatch(b1.toDF("doc_id", "w"), 1L,
      col("w"), 40, s"$dir/out", s"$dir/store", "doc_id")
    val ids = spark.read.parquet(s"$dir/out/batch_id=1")
      .select("doc_id").collect().map(_.getLong(0))
    assert(ids.length == 40)
    assert(ids.distinct.length == ids.length,
      s"reservoir held a doc twice: ${ids.groupBy(identity).filter(_._2.length > 1).keys}")
  }

  test("streaming DSIR scoring classifies arriving docs against fixed corpus weights") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("dsirstream").toString
    val corpus = (0L until 100L).map { i =>
      (i, i < 50, if (i < 50) "alpha beta gamma delta" else "omega psi chi phi")
    }.toDF("doc_id", "is_t", "text")
    val weights = graft.operators.TextOps
      .dsirWeights(corpus, isTarget = col("is_t"), buckets = 1024).persist()
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.dsirScoreStream(
      mem.toDF().toDF("doc_id", "text"), weights,
      s"$dir/out", s"$dir/ckpt", buckets = 1024)
    mem.addData((200L, "alpha beta alpha gamma"), (201L, "omega psi omega chi"))
    q.processAllAvailable()
    mem.addData((202L, "delta gamma beta"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("is_target_like")).toMap
    assert(out == Map(200L -> true, 201L -> false, 202L -> true), s"got $out")
    weights.unpersist()
  }

  test("streaming curation compose equals the batch q64 decision, replay-idempotently") {
    import org.apache.spark.sql.functions.col
    import graft.operators.TextOps
    val dir = Files.createTempDirectory("curstream").toString
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
    // the FIXED eval shingle set (benchmarks don't change mid-ingest) —
    // the q65 eval split: every 11th doc
    val evalHashes = TextOps.evalShingleSet(docs.filter(col("doc_id") % 11 === 0))
      .persist()
    evalHashes.count()
    // two id-ordered micro-batches: dedup/near-dup/span state must carry
    // across the split (the corpus plants dup pairs on both sides)
    val cut = docs.agg(org.apache.spark.sql.functions.expr("percentile(doc_id, 0.5)"))
      .head().getDouble(0).toLong
    val batches = Seq(docs.filter(col("doc_id") <= cut), docs.filter(col("doc_id") > cut))
    batches.zipWithIndex.foreach { case (b, i) =>
      Streaming.processCurationBatch(b, i.toLong, evalHashes, s"$dir/out",
        s"$dir/store", 0.8, 0.1, graft.queries.Text.SampleRates.toMap, 0.5,
        "doc_id", "text")
    }
    val cols = Seq("doc_id", "is_exact_dup", "is_near_dup", "quality_keep",
      "sample_keep", "is_eval", "contaminated", "dup_heavy", "keep")
    val streamed = spark.read.parquet(s"$dir/out").drop("batch_id")
      .select(cols.map(col): _*)
    val batchRef = graft.queries.Text.q64CurationDecision(spark, sfDir)
      .select(cols.map(col): _*)
    // the ingest-vs-compose caveat: a SYMMETRIC dup-span pair split across
    // the batch boundary flags only the later side at ingest time — exclude
    // exactly those early-side rows (dup_heavy differs, everything else
    // must still match); asymmetric flags must match everywhere
    val joined = streamed.as("s").join(batchRef.as("b"), "doc_id").cache()
    assert(joined.count() == docs.count(), "every doc gets a streamed decision")
    val asymMismatch = joined.filter(
      Seq("is_exact_dup", "is_near_dup", "quality_keep", "sample_keep",
        "is_eval", "contaminated")
        .map(c => col(s"s.$c") =!= col(s"b.$c")).reduce(_ || _)).count()
    assert(asymMismatch == 0, "asymmetric flags must equal the batch decision")
    // dup_heavy may differ ONLY as batch-true/stream-false (early side of a
    // boundary-split span pair) — never the other way
    val spanFalsePos = joined.filter(col("s.dup_heavy") && !col("b.dup_heavy")).count()
    assert(spanFalsePos == 0, "stream flagged a span dup the batch pass didn't")
    val keepMismatch = joined.filter(col("s.keep") =!= col("b.keep") &&
      col("s.dup_heavy") === col("b.dup_heavy")).count()
    assert(keepMismatch == 0, "keep must follow the composed flags")
    // replaying batch 1 (same id) rebuilds the identical decision partition
    val before = spark.read.parquet(s"$dir/out/batch_id=1")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    Streaming.processCurationBatch(batches(1), 1L, evalHashes, s"$dir/out",
      s"$dir/store", 0.8, 0.1, graft.queries.Text.SampleRates.toMap, 0.5,
      "doc_id", "text")
    val after = spark.read.parquet(s"$dir/out/batch_id=1")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(after == before, "replayed batch must rebuild the identical decision")
    joined.unpersist(); evalHashes.unpersist()
  }

  test("curation retention: Unbounded remembers every batch, finite window forgets") {
    import spark.implicits._
    import graft.operators.TextOps
    val dir = Files.createTempDirectory("curretain").toString
    def mk(id: Long, text: String) = Seq((id, text)).toDF("doc_id", "text")
    val evalHashes = TextOps.evalShingleSet(mk(1L, "x").limit(0)).persist()
    evalHashes.count()
    val t = "the quick brown fox jumps over the lazy dog again and again today"
    def run(id: Long, text: String, batchId: Long, retain: Int): Unit =
      Streaming.processCurationBatch(mk(id, text), batchId, evalHashes,
        s"$dir/out", s"$dir/store", 0.8, 0.1, Map.empty, 1.0,
        "doc_id", "text", retain)
    // default (Unbounded): a dup re-ingested two batches later is caught —
    // the SEEN-SO-FAR semantics the scaladoc promises
    run(1L, t, 0L, Streaming.Unbounded)
    run(2L, "entirely different filler words covering separate topics here", 1L,
      Streaming.Unbounded)
    run(3L, t, 2L, Streaming.Unbounded)
    val dupUnbounded = spark.read.parquet(s"$dir/out/batch_id=2")
      .select("is_exact_dup").as[Boolean].head()
    assert(dupUnbounded, "unbounded retention must remember the batch-0 hash")
    // retainBatches=1: replaying batch 2 prunes everything below batch 1
    // from ALL curation stores first, so the same text is no longer a dup
    run(3L, t, 2L, 1)
    val dupWindowed = spark.read.parquet(s"$dir/out/batch_id=2")
      .select("is_exact_dup").as[Boolean].head()
    assert(!dupWindowed, "a 1-batch window must forget the batch-0 hash")
    val survivors = new java.io.File(s"$dir/store/hashes").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet
    assert(survivors == Set("batch_id=1", "batch_id=2"),
      s"hash store must hold only the window, got $survivors")
    evalHashes.unpersist()
  }

  test("curation decisions (quality + stratified sample) stream stateless per micro-batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.TextOps
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    // the SAME batch operators, unchanged, over a stream: map-side exprs
    // need no watermark and no state store
    val flags = TextOps.qualityFilter(docs)
      .withColumn("keep_sample",
        TextOps.sampleFlag(lit("x"), col("doc_id"), Map.empty, defaultRate = 0.5))
    val q = flags.writeStream.format("memory").queryName("curation")
      .outputMode("append").start()
    val good = ("good words " * 20) + TextOps.StopWords.mkString(" ")
    mem.addData((1L, good), (2L, "short"))
    q.processAllAvailable()
    mem.addData((3L, good))
    q.processAllAvailable()
    val rows = spark.table("curation")
      .select("doc_id", "keep", "keep_sample").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    q.stop()
    assert(rows.keySet == Set(1L, 2L, 3L))
    assert(!rows(2L)._1, "a 1-word doc must fail the quality filter")
    // streamed decisions must equal the batch operator's on the same rows
    val batch = TextOps.qualityFilter(
        Seq((1L, good), (2L, "short"), (3L, good)).toDF("doc_id", "text"))
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(rows.view.mapValues(_._1).toMap == batch)
  }

  test("streaming packing continues the token stream across batches, idempotently") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    import graft.streaming.Streaming
    val dir = Files.createTempDirectory("packstream").toString
    val (out, store) = (s"$dir/out", s"$dir/store")
    def docsOf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    // batch 0: 3 + 2 tokens; batch 1 must start at 5
    Streaming.processPackBatch(docsOf(1L -> "a b c", 2L -> "d e"), 0L,
      out, store, seqLen = 4, idCol = "doc_id", textCol = "text")
    Streaming.processPackBatch(docsOf(3L -> "f g h i j"), 1L,
      out, store, seqLen = 4, idCol = "doc_id", textCol = "text")
    def readAll() = spark.read.parquet(out)
      .select("doc_id", "start_tok", "seq_id", "seq_off", "spans_boundary")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val got = readAll()
    assert(got(1L) == ((0L, 0L, 0L, false)))
    assert(got(2L) == ((3L, 0L, 3L, true)), s"doc 2 spans the 4-token boundary: ${got(2L)}")
    assert(got(3L) == ((5L, 1L, 1L, true)), s"batch 1 must continue at 5: ${got(3L)}")
    // retry batch 1 with the same inputs: output and store must not change
    Streaming.processPackBatch(docsOf(3L -> "f g h i j"), 1L,
      out, store, seqLen = 4, idCol = "doc_id", textCol = "text")
    assert(readAll() == got, "a re-executed batch must replace, not duplicate")
    val total = spark.read.parquet(s"$store/totals")
      .agg(sum(col("n_tok_total"))).head().getLong(0)
    assert(total == 10L, s"store total $total != 10 tokens")
  }

  test("streaming hourly counts run with watermark (smoke)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.hourlyCounts(mem.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode("update").start()
    mem.addData(Event(1, 1000L * 1000000000L, 1, "click", 2.0),
      Event(2, 1010L * 1000000000L, 1, "click", 3.0))
    q.processAllAvailable()
    val n = spark.table("hourly").count()
    q.stop()
    assert(n >= 1)
  }

  test("Tables.rowCount re-counts when the table is re-materialized in-session") {
    import spark.implicits._
    val sfDir = Files.createTempDirectory("rowcount").toString
    (1 to 5).toDF("x").write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    assert(graft.core.Tables.rowCount(spark, sfDir, "documents") == 5)
    // regenerate the table at the same path — the memo must not serve 5
    (1 to 9).toDF("x").write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    assert(graft.core.Tables.rowCount(spark, sfDir, "documents") == 9)
  }

  test("multimodal feature extraction is deterministic with fixed batch shape") {
    import spark.implicits._
    val media = Seq(
      MediaRow(1, "image", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8), 2, 4),
      MediaRow(2, "audio", Array.tabulate(256)(i => i.toByte), 0, 0)).toDS()
    val f = Multimodal.extractFeatures(media, dim = 16).collect().sortBy(_.media_id)
    assert(f.length == 2)
    assert(f.forall(_.embedding.length == 16))
    assert(math.abs(f(1).byte_entropy - 8.0) < 1e-9) // uniform 256 bytes
    val f2 = Multimodal.extractFeatures(media, dim = 16).collect().sortBy(_.media_id)
    assert(f.zip(f2).forall { case (a, b) => a.embedding.sameElements(b.embedding) })
  }

  test("frame sampling chunks payloads with stride") {
    import spark.implicits._
    val media = Seq(MediaRow(1, "video", Array.tabulate(100)(_.toByte), 0, 0)).toDS()
    val frames = Multimodal.sampleFrames(media, frameBytes = 10, stride = 2).collect()
    assert(frames.length == 5) // frames 0,2,4,6,8
  }

  test("raw-gray decode + average pool: exact block means, truncation rules") {
    import spark.implicits._
    // 4-wide image, 9 rows of bytes + 3 trailing bytes (partial row dropped);
    // 9 rows → 2 full 4-row bands, 1 leftover row dropped
    val px = Array.tabulate(4 * 9)(i => (i % 251).toByte) ++ Array[Byte](9, 9, 9)
    val media = Seq(MediaRow(7, "gray", px, 4, 0)).toDS()
    val got = Multimodal.decodeGrayPool(media, width = 4, pool = 4)
      .collect().map(r => (r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(got.keySet == Set((0, 0), (1, 0)), s"blocks: ${got.keySet}")
    def mean(rows: Range) = rows.flatMap(r => (0 until 4).map(c => px(r * 4 + c) & 0xff))
      .sum.toDouble / 16
    assert(got((0, 0)) == mean(0 until 4))
    assert(got((1, 0)) == mean(4 until 8))
    // payload shorter than one band → no rows
    val tiny = Seq(MediaRow(8, "gray", Array[Byte](1, 2, 3), 4, 0)).toDS()
    assert(Multimodal.decodeGrayPool(tiny, width = 4, pool = 4).isEmpty)
  }

  test("dHash: tail edits keep the hash, in-region edits change it, bits exact") {
    import spark.implicits._
    // width 8, pool 4 → 1 comparison per block row: bit r = blk(r,0) > blk(r,1)
    // rows 0-3: left blocks bright (200), right dark (10) → bit0 = 1
    // rows 4-7: left dark, right bright → bit1 = 0
    val band = (Array.fill(4)(200.toByte) ++ Array.fill(4)(10.toByte))
    val band2 = (Array.fill(4)(10.toByte) ++ Array.fill(4)(200.toByte))
    val base = Array.fill(4)(band).flatten ++ Array.fill(4)(band2).flatten
    val tailEdit = base ++ Array.fill[Byte](64)(99)   // beyond 8 block rows
    val inEdit = base.clone(); inEdit(0) = 0          // inside block (0,0)
    val media = Seq(
      MediaRow(1, "gray", base, 8, 0),
      MediaRow(2, "gray", tailEdit, 8, 0),
      MediaRow(3, "gray", inEdit, 8, 0)).toDS()
    val got = Multimodal.dHash(media, width = 8, pool = 4)
      .collect().map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("dhash")).toMap
    assert(got(1L) == 1L, s"expected bit 0 only: ${got(1L)}")
    assert(got(2L) == got(1L), "a tail edit beyond the hashed region must not change the hash")
    assert(got(3L) == got(1L), "one dimmed pixel must not flip a 200-vs-10 block comparison")
    // flip an entire block: block (0,0) dark → bit 0 clears
    val flipped = base.clone(); (0 until 4).foreach(r => (0 until 4).foreach(c => flipped(r * 8 + c) = 5))
    val f = Multimodal.dHash(Seq(MediaRow(4, "gray", flipped, 8, 0)).toDS(), 8, 4)
      .collect().head.getAs[Long]("dhash")
    assert(f == 0L, s"flipping block (0,0) must clear bit 0: $f")
  }

  test("dHash rejects shapes whose bit index would wrap past 64 bits") {
    import spark.implicits._
    val media = Seq(MediaRow(1, "gray", Array.fill[Byte](64 * 64)(1), 64, 0)).toDS()
    // width 64 pool 4 → 15 bits/row; 8 rows = 120 bits: shiftleft would
    // wrap mod 64 and sum() would carry into neighboring bits
    val e = intercept[IllegalArgumentException] {
      Multimodal.dHash(media, width = 64, pool = 4, maxBlockRows = 8)
    }
    assert(e.getMessage.contains("64 bits"), e.getMessage)
    // the safe shape at the same width still works
    assert(Multimodal.dHash(media, width = 64, pool = 4, maxBlockRows = 4).count() == 1)
  }

  test("raw-PCM framing: exact RMS/peak incl. negative samples, truncation") {
    import spark.implicits._
    // 5 LE 16-bit samples: 100, -200, 300, -32768, 5 — framed at 4, so the
    // trailing sample drops; peak must see |−32768|
    def le(v: Int) = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val pcm = Seq(100, -200, 300, -32768, 5).flatMap(le).toArray
    val media = Seq(MediaRow(3, "pcm", pcm, 0, 0)).toDS()
    val rows = Multimodal.pcmWindowRms(media, frameLen = 4, silenceRms = 10.0)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    val expectRms = math.sqrt((100.0 * 100 + 200 * 200 + 300 * 300 +
      32768.0 * 32768) / 4)
    assert(r.getAs[Int]("frame") == 0)
    assert(math.abs(r.getAs[Double]("rms") - expectRms) < 1e-6)
    assert(r.getAs[Int]("peak") == 32768)
    assert(!r.getAs[Boolean]("is_silence"))
    // an all-zero frame is silent with rms 0 and peak 0
    val quiet = Seq(MediaRow(4, "pcm", Array.fill[Byte](8)(0), 0, 0)).toDS()
    val q = Multimodal.pcmWindowRms(quiet, frameLen = 4, silenceRms = 10.0).collect().head
    assert(q.getAs[Double]("rms") == 0.0 && q.getAs[Int]("peak") == 0 &&
      q.getAs[Boolean]("is_silence"))
  }

  test("streaming fingerprint near-dup matches the batch Hamming join across batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{bit_count, col}
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("fpstream").toString
    // avalanche base hashes; partner(h, k) flips k bits
    def h(seed: Long): Long = {
      var x = seed * -7046029254386353131L
      x ^= x >>> 32; x *= -4417276706812531889L; x ^= x >>> 29; x
    }
    def flip(v: Long, bitsToFlip: Seq[Int]): Long =
      bitsToFlip.foldLeft(v)((acc, b) => acc ^ (1L << b))
    val rows = Seq(
      (0L, h(1)), (1L, flip(h(1), Seq(3))),           // within-batch pair, hamming 1
      (2L, h(2)), (3L, flip(h(2), Seq(0, 17, 40, 63))), // hamming 4 > max: no pair
      (4L, h(3)))
    val late = Seq((100L, flip(h(3), Seq(8, 21, 55)))) // cross-batch, hamming 3
    val mem = MemoryStream[(Long, Long)]
    val sq = Streaming.fingerprintNearDupStream(
      mem.toDF().toDF("media_id", "dhash"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt",
      bits = 64, bands = 4, maxHamming = 3)
    mem.addData(rows: _*)
    sq.processAllAvailable()
    mem.addData(late: _*)
    sq.processAllAvailable()
    sq.stop()
    val got = spark.read.parquet(s"$dir/out")
      .select("id_a", "id_b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // twin contract: identical to the batch operator over the union
    val all = (rows ++ late).toDF("media_id", "dhash")
    val batchPairs = graft.operators.Fuzzy
      .bandedHashes(all, "dhash", bits = 64, bands = 4)
      .select(col("media_id").as("id_a"), col("dhash").as("ha"), col("__bi"), col("__bv"))
      .join(graft.operators.Fuzzy.bandedHashes(all, "dhash", bits = 64, bands = 4)
        .select(col("media_id").as("id_b"), col("dhash").as("hb"), col("__bi"), col("__bv")),
        Seq("__bi", "__bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int").as("hamming"))
      .distinct().filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == batchPairs, s"stream $got != batch $batchPairs")
    assert(got.contains((0L, 1L, 1)) && got.contains((4L, 100L, 3)))
    assert(!got.exists { case (a, b, _) => Set(a, b) == Set(2L, 3L) })
  }

  test("fingerprint near-dup batches are idempotent under re-execution") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fpretry").toString
    val b0 = Seq((0L, 123456789L), (1L, 123456789L ^ 5L)).toDF("media_id", "dhash")
    val b1 = Seq((2L, 123456789L ^ 2L)).toDF("media_id", "dhash")
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Streaming.processFingerprintBatch(df, id, s"$dir/out", s"$dir/store",
        bits = 64, bands = 4, maxHamming = 3, idCol = "media_id", hashCol = "dhash")
    run(b0, 0L); run(b1, 1L)
    val first = spark.read.parquet(s"$dir/out").collect().toSet
    run(b1, 1L) // retry: must overwrite its own partition, not duplicate
    val second = spark.read.parquet(s"$dir/out").collect().toSet
    assert(first == second && first.nonEmpty)
    assert(spark.read.parquet(s"$dir/store/bands")
      .select("media_id").distinct().count() == 3)
  }

  test("fingerprint store retention prunes history beyond the window") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fpretain").toString
    val h = 123456789L
    def run(rows: Seq[(Long, Long)], id: Long): Unit =
      Streaming.processFingerprintBatch(rows.toDF("media_id", "dhash"), id,
        s"$dir/out", s"$dir/store", bits = 64, bands = 4, maxHamming = 3,
        idCol = "media_id", hashCol = "dhash", retainBatches = 1)
    run(Seq((0L, h)), 0L)
    run(Seq((1L, h ^ 1L)), 1L)      // batch 0 inside window: pair (0,1)
    run(Seq((2L, h ^ 2L)), 2L)      // window = batch 1 only: pair (1,2), NOT (0,2)
    val got = spark.read.parquet(s"$dir/out")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L), (1L, 2L)), s"got $got")
    // pruned store: only the last retainBatches=1 partitions survive each
    // batch — after batch 2, batch 0's bands are gone
    val storeIds = new java.io.File(s"$dir/store/bands").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet
    assert(!storeIds.contains("batch_id=0"), s"store still holds $storeIds")
  }

  test("streaming scene cuts equal the batch labels across a mid-video batch split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Video
    implicit val sqlCtx = spark.sqlContext
    // real-pipeline hashes for 4 clips (q139's construction: 6 frames,
    // content switches at frame 2 + id % 3)
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") < 4)
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val frames = docs.flatMap { case (id, text) =>
      val b = text.getBytes("UTF-8")
      val cut = (2 + id % 3).toInt
      (0 until 6).map { k =>
        val off = if (k < cut) 0 else 1
        val px = Array.tabulate(1024)(i => b((i + off) % b.length))
        (id, k, graft.sources.Jpeg.encodeGray(64, 16, px))
      }
    }.toDF("video_id", "frame_no", "jpeg")
    val dh = Video.frameDHash(Video.mjpegAssemble(frames, 64, 16), stride = 1)
      .as[Streaming.FrameHash].collect().sortBy(f => (f.video_id, f.frame_no))
    val expected = dh.groupBy(_.video_id).flatMap { case (_, fs) =>
      var last = Option.empty[Long]
      var cuts = 0L
      fs.sortBy(_.frame_no).toSeq.map { f =>
        val d = last.map(h => java.lang.Long.bitCount(h ^ f.dhash)).getOrElse(-1)
        if (d >= 4) cuts += 1
        last = Some(f.dhash)
        (f.video_id, f.frame_no) -> cuts
      }
    }.toMap
    assert(expected.values.exists(_ > 0), "fixture must contain a real cut")
    val mem = MemoryStream[Streaming.FrameHash]
    val q = Streaming.sceneCutStream(mem.toDS(), threshold = 4)
      .writeStream.format("memory").queryName("scene_cuts")
      .outputMode("append").start()
    // split MID-video: frames 0-2 land in batch 1, 3-5 in batch 2, so the
    // cross-batch state must carry the last hash over a cut boundary
    val (b1, b2) = dh.partition(_.frame_no < 3)
    mem.addData(b1.toSeq: _*)
    q.processAllAvailable()
    mem.addData(b2.toSeq: _*)
    q.processAllAvailable()
    val got = spark.table("scene_cuts").as[Streaming.SceneLabel].collect()
      .map(l => (l.video_id, l.frame_no) -> l.scene_no).toMap
    q.stop()
    assert(got == expected, s"stream labels diverged: $got vs $expected")
  }

  test("streaming line dedup equals the batch operator over in-order batches, idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("linededup").toString
    val corpus = Seq(
      (1L, "alpha\nbeta\nalpha"),   // batch 0: in-batch dup
      (2L, "beta\ngamma"),          // batch 0: beta dups doc 1
      (3L, "gamma\ndelta\nbeta"),   // batch 1: gamma+beta seen in batch 0
      (4L, "epsilon\n  delta  "))   // batch 1: trimmed delta dups doc 3
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.lineDedupStream(
      mem.toDF().toDF("doc_id", "text"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt")
    mem.addData(corpus.take(2): _*)
    q.processAllAvailable()
    mem.addData(corpus.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    // twin contract: identical to the batch operator over the whole corpus
    val want = graft.operators.TextOps
      .corpusLineDedup(corpus.toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_lines"), r.getAs[Int]("n_kept"),
          r.getAs[String]("deduped_text"))).toMap
    def readOut() = spark.read.parquet(s"$dir/out")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_lines"), r.getAs[Int]("n_kept"),
          r.getAs[String]("deduped_text"))).toMap
    assert(readOut() == want, s"stream diverged from batch twin: ${readOut()} vs $want")
    // idempotency: replaying batch 1 reads only batch 0's committed store
    Streaming.processLineDedupBatch(
      corpus.drop(2).toDF("doc_id", "text"), 1L,
      s"$dir/out", s"$dir/store", "doc_id", "text")
    assert(readOut() == want, "batch-1 replay must reproduce identical output")
  }

  test("retainBatches = 0 is rejected (unbounded retention is explicit opt-in only)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("retainzero").toString
    val e = intercept[IllegalArgumentException] {
      Streaming.processLineDedupBatch(Seq((1L, "a")).toDF("doc_id", "text"),
        0L, s"$dir/out", s"$dir/store", "doc_id", "text", retainBatches = 0)
    }
    assert(e.getMessage.contains("Unbounded"))
    // the explicit sentinel still works (full-history semantics)
    Streaming.processLineDedupBatch(Seq((1L, "a")).toDF("doc_id", "text"),
      0L, s"$dir/out", s"$dir/store", "doc_id", "text",
      retainBatches = Streaming.Unbounded)
    assert(spark.read.parquet(s"$dir/out").count() == 1)
  }

  test("finite retention keeps the store partition count bounded over many batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("boundedstore").toString
    // 6 batches at retainBatches=2: after each batch the store holds at
    // most window+1 partitions (the window plus the batch's own write)
    (0 to 5).foreach { b =>
      Streaming.processLineDedupBatch(
        Seq((b.toLong, s"line$b\nshared")).toDF("doc_id", "text"),
        b.toLong, s"$dir/out", s"$dir/store", "doc_id", "text",
        retainBatches = 2)
      val parts = new java.io.File(s"$dir/store/lines").listFiles()
        .map(_.getName).count(_.startsWith("batch_id="))
      assert(parts <= 3, s"after batch $b the store holds $parts partitions")
    }
  }

  test("streaming heavy hitters: candidates cover the batch exact hitters, idempotently") {
    import spark.implicits._
    val dir = Files.createTempDirectory("hhstream").toString
    // corpus with two planted heavy tokens spread ACROSS batches (neither
    // is heavy in every batch) plus a long noise tail; k small enough to
    // force MG pruning inside each batch summary
    // hot1 count > 2n/k so its LOWER bound (true − n/k worst-case MG
    // deficit) still clears n/k — the 'guaranteed' flag must fire
    val rnd = new scala.util.Random(7)
    val toks = Seq.fill(1200)("hot1") ++ Seq.fill(500)("hot2") ++
      Seq.tabulate(2000)(i => s"noise${rnd.nextInt(900)}_$i")
    val batches = rnd.shuffle(toks).grouped(1250).toSeq
    val k = 8
    batches.zipWithIndex.foreach { case (b, id) =>
      Streaming.processHeavyHittersBatch(b.toDF("tok"), id.toLong,
        s"$dir/out", s"$dir/store", "tok", k)
    }
    val lastId = batches.length - 1
    def readLast() = spark.read.parquet(s"$dir/out/batch_id=$lastId")
      .collect().map(r => (r.getAs[String]("tok"), r.getAs[Long]("cnt_lb"),
        r.getAs[Long]("n_total"), r.getAs[Boolean]("guaranteed"))).toSet
    val emitted = readLast()
    val n = toks.length.toLong
    assert(emitted.headOption.map(_._3).contains(n), "window total wrong")
    // exact hitters over the concatenated corpus (true count > n/k)
    val exact = toks.groupBy(identity).view.mapValues(_.length.toLong)
      .filter { case (_, c) => c * k > n }.keySet
    val cands = emitted.map(_._1)
    assert(exact.subsetOf(cands),
      s"candidate set lost hitters: missing ${exact -- cands}")
    // lower-bound sanity: cnt_lb never exceeds the true count, and every
    // 'guaranteed' token is truly heavy
    val trueCnt = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    emitted.foreach { case (t, lb, tot, g) =>
      assert(lb <= trueCnt(t), s"$t lower bound $lb > true ${trueCnt(t)}")
      if (g) assert(trueCnt(t) * k > tot, s"$t marked guaranteed but not heavy")
    }
    assert(emitted.exists(_._4), "fixture should guarantee at least hot1")
    // replay idempotency: rerunning the last batch reproduces the output
    Streaming.processHeavyHittersBatch(batches(lastId).toDF("tok"),
      lastId.toLong, s"$dir/out", s"$dir/store", "tok", k)
    assert(readLast() == emitted, "replay diverged")
    // store stays O(window·k): each partition holds ≤ k rows (k−1
    // candidates + the sentinel)
    val storeRows = spark.read.parquet(s"$dir/store/mg").count()
    assert(storeRows <= batches.length.toLong * k,
      s"store holds $storeRows rows — summaries are not pruned to k")
  }

  test("monitor starters reject k, buckets and bins before the stream starts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("failfast").toString
    def scored = MemoryStream[(Long, Long)].toDF().toDF("pm", "y")
    val starts: Seq[(String, String => Any)] = Seq(
      "heavyHittersStream(k = 1)" -> (ckpt => Streaming.heavyHittersStream(
        MemoryStream[String].toDF().toDF("tok"), s"$dir/out", s"$dir/store",
        ckpt, "tok", k = 1)),
      "psiMonitorStream(buckets = 1)" -> (ckpt => Streaming.psiMonitorStream(
        MemoryStream[(Long, String)].toDF().toDF("v", "g"), s"$dir/out",
        s"$dir/store", ckpt, "v", "g", "ref", "live", buckets = 1)),
      "calibrationMonitorStream(bins = 1)" -> (ckpt =>
        Streaming.calibrationMonitorStream(scored, s"$dir/out", s"$dir/store",
          ckpt, "pm", "y", bins = 1)))
    starts.zipWithIndex.foreach { case ((name, start), i) =>
      val ckpt = s"$dir/ckpt$i"
      intercept[IllegalArgumentException](start(ckpt))
      assert(!new java.io.File(ckpt).exists, s"$name created its checkpoint")
    }
    assert(!new java.io.File(s"$dir/store").exists)
  }

  test("count-delta monitors at retainBatches = 2: batch 3 emits the batch operator over batches 1-3, store keeps batch_id >= 1") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, count, lit}
    import graft.operators.{LmOps, Profile}
    // four batches of different sizes whose distributions move with the
    // batch index, so a window over batches 1-3 differs from all four
    def h(i: Int): Long = (i.toLong * 2654435761L) % 1000003L
    def ids(b: Int) = (b * 400) until (b * 400 + 150 + 40 * b)
    def scores(b: Int): DataFrame = ids(b).map { i =>
      val s = h(i) % 37L + b
      (if (i % 17 == 0) None else Some(s), if (s * 3 % 7 > 2) 1L else 0L)
    }.toDF("score", "y")
    def values(b: Int): DataFrame = ids(b).flatMap { i =>
      val v = h(i) % 40L
      Seq((if (i % 19 == 0) None else Some(v), "ref"),
        (Some(v + 3L * b), "live"), (Some(v), "other"))
    }.toDF("v", "g")
    def cats(b: Int): DataFrame = ids(b).map { i =>
      val q = h(i) % 12L
      (s"s${q % 3}", if ((q / 3 + i % 2 + b) % 2 == 0) "en" else "fr")
    }.toDF("src", "lang")
    def probs(b: Int): DataFrame = ids(b).map { i =>
      val pm = h(i) % 1000001L
      (pm, if ((pm / 997L + i % 5 + b) % 11L > 4L) 1L else 0L)
    }.toDF("pm", "y")
    def cells(b: Int): DataFrame = ids(b).map { i =>
      val x = h(i) % 9L
      (x, if (h(i) % 13L == 5L) 8L - x else (h(i) >> 2) % 3L + x * (b % 2))
    }.toDF("xv", "yv")
    def toks(b: Int): DataFrame = ids(b).map { i =>
      if (i % 4 == 0) s"hot${b % 2}" else if (i % 9 == 1) "warm" else s"t${h(i) % 60}"
    }.toDF("tok")
    def buckets(b: Int): DataFrame = ids(b).map(i => h(i) % (3L + b)).toDF("bucket")
    val ref = Seq(0L, 1L, 1L, 2L, 3L, 4L, 5L).toDF("bucket")
    val refCounts = ref.groupBy(col("bucket")).agg(count(lit(1)).as("n_rows"))
    val k = 4
    // heavy hitters emits merged summaries, not exact counts: its batch
    // operator is the monitor over a fresh store fed only batches 1-3
    def hhOver(bs: Seq[DataFrame]): DataFrame = {
      val d = Files.createTempDirectory("hhwindow").toString
      bs.zipWithIndex.foreach { case (b, id) =>
        Streaming.processHeavyHittersBatch(b, id.toLong, s"$d/out", s"$d/store",
          "tok", k, Streaming.Unbounded)
      }
      spark.read.parquet(s"$d/out/batch_id=${bs.length - 1}")
    }
    type Step = (DataFrame, Long, String, String) => Unit
    val monitors: Seq[(String, String, Int => DataFrame, Step, DataFrame => DataFrame)] = Seq(
      ("heavy hitters", "mg", toks,
        (b, id, o, s) => Streaming.processHeavyHittersBatch(b, id, o, s, "tok", k, 2),
        _ => hhOver((1 to 3).map(toks))),
      ("AUC", "counts", scores,
        (b, id, o, s) => Streaming.processAucBatch(b, id, o, s, "score", "y", 2),
        LmOps.binaryAuc(_, "score", "y")),
      ("AP", "counts", scores,
        (b, id, o, s) => Streaming.processApBatch(b, id, o, s, "score", "y", 2),
        LmOps.binaryAp(_, "score", "y")),
      ("KS", "counts", values,
        (b, id, o, s) => Streaming.processKsBatch(b, id, o, s, "v", "g", "ref", "live", 2),
        Profile.ksTwoSample(_, "v", "g", "ref", "live")),
      ("PSI", "counts", values,
        (b, id, o, s) => Streaming.processPsiBatch(b, id, o, s, "v", "g", "ref", "live", 8, 2),
        Profile.psi(_, "v", "g", "ref", "live", 8)),
      ("W1", "counts", values,
        (b, id, o, s) => Streaming.processW1Batch(b, id, o, s, "v", "g", "ref", "live", 2),
        Profile.wasserstein1(_, "v", "g", "ref", "live")),
      ("JS", "counts", values,
        (b, id, o, s) => Streaming.processJsBatch(b, id, o, s, "v", "g", "ref", "live", 8, 2),
        Profile.jsDivergence(_, "v", "g", "ref", "live", 8)),
      ("chi-square", "counts", cats,
        (b, id, o, s) => Streaming.processChiSquareBatch(b, id, o, s, "src", "lang", 2),
        Profile.chiSquare(_, "src", "lang")),
      ("calibration", "counts", probs,
        (b, id, o, s) => Streaming.processCalibrationBatch(b, id, o, s, "pm", "y", 10, 2),
        LmOps.calibrationReport(_, "pm", "y", 10)),
      ("tau-b", "counts", cells,
        (b, id, o, s) => Streaming.processTauBatch(b, id, o, s, "xv", "yv", 2),
        Profile.kendallTauB(_, "xv", "yv")),
      ("isotonic", "counts", probs,
        (b, id, o, s) => Streaming.processIsotonicBatch(b, id, o, s, "pm", "y", 16, 2),
        LmOps.isotonicCalibrate(_, "pm", "y", 16)),
      ("bucket drift", "counts", buckets,
        (b, id, o, s) => Streaming.processBucketDriftBatch(b, id, refCounts, o, s, "bucket", 2),
        Profile.bucketDrift(_, ref, "bucket")))
    def rowsOf(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    monitors.foreach { case (name, sub, data, step, batchOp) =>
      val dir = Files.createTempDirectory("retain2").toString
      (0 to 3).foreach(b => step(data(b), b.toLong, s"$dir/out", s"$dir/store"))
      val streamed = rowsOf(spark.read.parquet(s"$dir/out/batch_id=3"))
      val want = rowsOf(batchOp((1 to 3).map(data).reduce(_ unionByName _)))
      assert(streamed.nonEmpty, s"$name: empty emit")
      assert(streamed == want, s"$name: streamed=$streamed\nwant=$want")
      val kept = new java.io.File(s"$dir/store/$sub").listFiles().map(_.getName)
        .filter(_.startsWith("batch_id=")).map(_.stripPrefix("batch_id=").toLong).toSet
      assert(kept == Set(1L, 2L, 3L), s"$name: store holds batch_ids $kept")
    }
  }
}
