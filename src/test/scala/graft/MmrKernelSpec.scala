package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.operators.Similarity.{cosineTopK, dot, norm2, roundHalfAway}

/** `Similarity.mmrTopK` runs every greedy round in one kernel call per
  * query. It must keep the results of the unrolled chain it replaced (a
  * pairwise sim self-join, then one window + anti-join + left-join level
  * per round over checkpointed state), which stays here as the reference.
  */
class MmrKernelSpec extends SparkSpec {
  import spark.implicits._

  /** The previous unrolled chain. */
  private object reference {
    def mmrTopK(corpus: DataFrame, queries: DataFrame, kCand: Int, kOut: Int,
        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
      require(kOut >= 1 && kOut <= kCand, s"kOut $kOut must be in [1, $kCand]")
      val cands = graft.core.CacheLife.scoped(
        cosineTopK(corpus, queries, kCand, idCol, vecCol)
          .select(col("query_id"), col("neighbor_id"), col("cos_sim").as("rel"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val withVec = cands.join(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("v")), "neighbor_id")
      val sims = graft.core.CacheLife.scoped(
        withVec.select(col("query_id"), col("neighbor_id"), col("v"))
          .join(withVec.select(col("query_id"), col("neighbor_id").as("other_id"),
            col("v").as("w")), Seq("query_id"))
          .filter(col("neighbor_id") =!= col("other_id"))
          .select(col("query_id"), col("neighbor_id"), col("other_id"),
            round(dot(col("v"), col("w"))
              / (sqrt(norm2(col("v"))) * sqrt(norm2(col("w")))), 6).as("sim"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val wRel = Window.partitionBy(col("query_id"))
        .orderBy(col("rel").desc, col("neighbor_id").asc)
      var selected = cands.withColumn("rn", row_number().over(wRel))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("neighbor_id"), col("rel"),
          lit(0.0).as("max_sim"), lit(1).as("pick"))
      var state = cands.withColumn("max_sim", lit(-2.0))
      var lastPick = selected.select(col("query_id"), col("neighbor_id").as("other_id"))
      for (t <- 2 to kOut) {
        val updated = state
          .join(lastPick.withColumnRenamed("other_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_anti")
          .join(sims.join(lastPick, Seq("query_id", "other_id"))
            .select(col("query_id"), col("neighbor_id"), col("sim")),
            Seq("query_id", "neighbor_id"), "left")
          .select(col("query_id"), col("neighbor_id"), col("rel"),
            greatest(col("max_sim"), coalesce(col("sim"), lit(-2.0))).as("max_sim"))
          .localCheckpoint(false)
        val wMmr = Window.partitionBy(col("query_id"))
          .orderBy((col("rel") * 0.5 - col("max_sim") * 0.5).desc,
            col("neighbor_id").asc)
        val pick = updated.withColumn("rn", row_number().over(wMmr))
          .filter(col("rn") === 1)
          .select(col("query_id"), col("neighbor_id"), col("rel"),
            col("max_sim"), lit(t).as("pick"))
        selected = selected.unionByName(pick)
        lastPick = pick.select(col("query_id"), col("neighbor_id").as("other_id"))
        state = updated
      }
      selected.withColumn("mmr", roundHalfAway(col("rel") * 0.5 - col("max_sim") * 0.5, 6))
    }
  }

  /** Same columns and types, same row set, every value exactly equal:
    * doubles bit for bit (NaN matching NaN). Returns the rows. */
  private def assertSame(got: DataFrame, want: DataFrame): Seq[Row] = {
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    }).sortBy(_.mkString("|"))
    val w = want.collect().toSeq
    assert(rows(got) == rows(want), s"\nnew ${got.collect().toSeq}\nreference $w")
    graft.core.CacheLife.releaseScoped(spark)
    w
  }

  private def same(corpus: DataFrame, queries: Seq[Long], kCand: Int, kOut: Int): Seq[Row] = {
    val q = corpus.filter(col("vec_id").isin(queries: _*))
    assertSame(Similarity.mmrTopK(corpus, q, kCand, kOut),
      reference.mmrTopK(corpus, q, kCand, kOut))
  }

  private def vectors(vs: Seq[Seq[Float]]): DataFrame =
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")

  /** `n` seeded random unit vectors of `dim` floats. */
  private def unitVectors(seed: Long, n: Int, dim: Int): Seq[Seq[Float]] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n) {
      val v = Seq.fill(dim)(r.nextGaussian())
      val l = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / l).toFloat)
    }
  }

  test("seeded random unit embeddings: every pick equals the unrolled chain") {
    for (seed <- Seq(1L, 7L, 42L)) {
      val corpus = vectors(unitVectors(seed, 80, 8))
      val rows = same(corpus, Seq(0L, 5L, 17L, 33L), kCand = 12, kOut = 6)
      assert(rows.size == 4 * 6)
    }
  }

  test("duplicated and scaled vectors (sim = 1 ties) and equal-rel ties go by id") {
    // ids 1, 2 and 4 point the same way (2 is 1 scaled, 4 a copy of 1):
    // rel ties three ways and their pairwise sims are exactly 1; ids 3 and 5
    // mirror each other about the query axis, so their rel ties too
    val corpus = vectors(Seq(Seq(1f, 0f, 0f), Seq(0.8f, 0.6f, 0f), Seq(1.6f, 1.2f, 0f),
      Seq(0.6f, 0f, 0.8f), Seq(0.8f, 0.6f, 0f), Seq(0.6f, 0f, -0.8f), Seq(0f, 1f, 0f)))
    val rows = same(corpus, Seq(0L), kCand = 6, kOut = 6)
    assert(rows.sortBy(_.getAs[Int]("pick")).map(_.getAs[Long]("neighbor_id")).take(2) ==
      Seq(1L, 3L), rows.toString)
    same(corpus, Seq(0L, 1L, 6L), kCand = 6, kOut = 4)
  }

  test("negative best similarities keep their sign (the −2.0 start)") {
    // every candidate points away from every other: the best sim to the
    // picked set is negative for all of them
    val corpus = vectors(Seq(Seq(0f, 0f, 1f), Seq(1f, 0f, 0.2f), Seq(-0.5f, 0.866f, 0.2f),
      Seq(-0.5f, -0.866f, 0.2f), Seq(0f, 0f, -1f)))
    val rows = same(corpus, Seq(0L), kCand = 4, kOut = 4)
    assert(rows.filter(_.getAs[Int]("pick") > 1).forall(_.getAs[Double]("max_sim") < 0), rows.toString)
  }

  test("a zero vector (NULL sims with ANSI off, DIVIDE_BY_ZERO with it on) and a NaN vector") {
    val zero = vectors(Seq(Seq(1f, 0f), Seq(0.6f, 0.8f), Seq(0f, 0f), Seq(0.8f, -0.6f),
      Seq(-0.6f, 0.8f)))
    val was = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val rows = same(zero, Seq(0L, 1L), kCand = 4, kOut = 4)
      assert(rows.exists(r => r.getAs[Long]("neighbor_id") == 2L && r.isNullAt(r.fieldIndex("rel"))))
      // a NaN query makes the zero vector a candidate without a zero divisor
      // in the scan, so with ANSI on the pairwise sims are what divide by zero
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val nanQuery = vectors(Seq(Seq(Float.NaN, 0f), Seq(0.6f, 0.8f), Seq(0f, 0f),
        Seq(0.8f, -0.6f)))
      for (f <- Seq[(DataFrame, DataFrame) => DataFrame](
          Similarity.mmrTopK(_, _, 3, 3), reference.mmrTopK(_, _, 3, 3))) {
        val e = intercept[Exception](f(nanQuery, nanQuery.filter(col("vec_id") === 0L)).collect())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(_.getMessage.contains("DIVIDE_BY_ZERO")), e.toString)
      }
      graft.core.CacheLife.releaseScoped(spark)
    } finally spark.conf.set("spark.sql.ansi.enabled", was)
    // a NaN component: its rel and its sims are NaN, which Spark ranks first
    val nan = vectors(Seq(Seq(1f, 0f), Seq(0.6f, 0.8f), Seq(Float.NaN, 0.5f), Seq(0.8f, -0.6f),
      Seq(-0.6f, 0.8f), Seq(0.9f, 0.1f)))
    val rows = same(nan, Seq(0L, 4L), kCand = 5, kOut = 4)
    assert(rows.exists(r => r.getAs[Int]("pick") == 1 && r.getAs[Double]("rel").isNaN))
  }

  test("fewer candidates than kOut, kOut = 1 and kOut = kCand") {
    val small = vectors(unitVectors(3L, 4, 4))
    assert(same(small, Seq(0L, 2L), kCand = 6, kOut = 5).size == 2 * 3)
    val corpus = vectors(unitVectors(11L, 30, 6))
    assert(same(corpus, Seq(1L, 2L, 3L), kCand = 8, kOut = 1).size == 3)
    assert(same(corpus, Seq(1L, 2L, 3L), kCand = 8, kOut = 8).size == 3 * 8)
  }

  test("q140's call over the sf0.01 embeddings equals the unrolled chain") {
    val sf001 = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString
    val emb = graft.core.Tables.load(spark, sf001, "embeddings")
    assert(same(emb, Seq(1L, 2L, 3L), kCand = 20, kOut = 5).size == 15)
  }
}
