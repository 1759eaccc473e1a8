package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{LmOps, Profile}

/** One eval/drift input row: a slice key, a row id, two integer scores, a
  * binary label, a two-sample group, two coarse integer values, two
  * categories and a micro-unit probability. */
case class EvalEdgeRow(k: Option[String], id: Long, s: Option[Long],
    s2: Option[Long], y: Int, g: String, x: Option[Long], x2: Option[Long],
    a: Option[String], b: Option[String], pm: Option[Long])

/** The 17 statistics that have a global and a keyed (`*By`) form, each
  * called the same way in both, plus the edge inputs their contracts are
  * pinned on. */
object EvalEdgeFixtures {

  private val baseRows: Seq[EvalEdgeRow] = {
    val s = Seq(5L, 3L, 3L, 8L, 1L, 7L, 7L, 2L, 9L, 4L, 6L, 3L)
    val s2 = Seq(4L, 4L, 2L, 9L, 1L, 5L, 8L, 3L, 7L, 2L, 6L, 1L)
    val y = Seq(1, 0, 1, 1, 0, 1, 0, 0, 1, 0, 1, 0)
    val x = Seq(1L, 2L, 2L, 3L, 1L, 3L, 2L, 1L, 3L, 2L, 3L, 1L)
    val x2 = Seq(2L, 2L, 1L, 3L, 1L, 3L, 3L, 1L, 2L, 1L, 3L, 2L)
    val a = Seq("u", "v", "u", "w", "v", "u", "w", "v", "u", "w", "u", "v")
    val b = Seq("p", "q", "p", "p", "q", "q", "p", "q", "p", "q", "p", "q")
    val pm = Seq(910000L, 120000L, 640000L, 880000L, 50000L, 720000L,
      390000L, 260000L, 970000L, 330000L, 560000L, 180000L)
    (0 until 12).map { i =>
      EvalEdgeRow(Some("k1"), i + 1L, Some(s(i)), Some(s2(i)), y(i),
        if (i % 3 == 0) "B" else "A", Some(x(i)), Some(x2(i)), Some(a(i)),
        Some(b(i)), Some(pm(i)))
    }
  }

  def base(spark: SparkSession): DataFrame = {
    import spark.implicits._
    baseRows.toDF()
  }

  /** Rows under a NULL key, with values unlike the base rows', so a keyed
    * form that kept them would not equal the global form on the base. */
  def withNullKeys(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val extra = (0 until 5).map { i =>
      EvalEdgeRow(None, 100L + i, Some(50L + i), Some(40L - i), i % 2,
        if (i < 2) "B" else "A", Some(7L), Some(i.toLong), Some("z"), Some("y"),
        Some(999000L - i))
    }
    (baseRows ++ extra).toDF()
  }

  /** empty input, all-NULL value columns, a single label class (and a
    * single two-sample group), a single distinct value. */
  def edgeInputs(spark: SparkSession): Seq[(String, DataFrame)] = {
    import spark.implicits._
    Seq(
      "empty" -> baseRows.toDF().filter(lit(false)),
      "allNull" -> baseRows.map(_.copy(s = None, s2 = None, x = None,
        x2 = None, a = None, b = None, pm = None)).toDF(),
      "oneClass" -> baseRows.map(_.copy(y = 1, g = "A")).toDF(),
      "oneValue" -> baseRows.map(_.copy(s = Some(5L), s2 = Some(5L),
        x = Some(3L), x2 = Some(3L), a = Some("u"), b = Some("v"),
        pm = Some(500000L))).toDF())
  }

  val globals: Seq[(String, DataFrame => DataFrame)] = Seq(
    "binaryAuc" -> (df => LmOps.binaryAuc(df, "s", "y")),
    "binaryAp" -> (df => LmOps.binaryAp(df, "s", "y")),
    "binaryApCi" -> (df => LmOps.binaryApCi(df, "id", "s", "y", resamples = 8)),
    "binaryAucSe" -> (df => LmOps.binaryAucSe(df, "s", "y")),
    "binaryAucCompare" -> (df => LmOps.binaryAucCompare(df, "s", "s2", "y")),
    "calibrationReport" -> (df => LmOps.calibrationReport(df, "pm", "y", bins = 4)),
    "isotonicCalibrate" -> (df => LmOps.isotonicCalibrate(df, "pm", "y", bins = 4)),
    "ksTwoSample" -> (df => Profile.ksTwoSample(df, "x", "g", "A", "B")),
    "chiSquare" -> (df => Profile.chiSquare(df, "a", "b")),
    "trendTest" -> (df => Profile.trendTest(df, "x", "y")),
    "permTestRate" -> (df => Profile.permTestRate(df, "id", "g", "y", "A", "B", resamples = 8)),
    "permTestMean" -> (df => Profile.permTestMean(df, "id", "g", "x", "A", "B", resamples = 8)),
    "spearman" -> (df => Profile.spearman(df, "s", "s2")),
    "kendallTauB" -> (df => Profile.kendallTauB(df, "x", "x2")),
    "psi" -> (df => Profile.psi(df, "s", "g", "A", "B", buckets = 4)),
    "wasserstein1" -> (df => Profile.wasserstein1(df, "s", "g", "A", "B")),
    "mutualInfo" -> (df => Profile.mutualInfo(df, "a", "b")))

  val keyed: Seq[(String, (DataFrame, Seq[String]) => DataFrame)] = Seq(
    "binaryAuc" -> ((df, ks) => LmOps.binaryAucBy(df, ks, "s", "y")),
    "binaryAp" -> ((df, ks) => LmOps.binaryApBy(df, ks, "s", "y")),
    "binaryApCi" -> ((df, ks) => LmOps.binaryApCiBy(df, ks, "id", "s", "y", resamples = 8)),
    "binaryAucSe" -> ((df, ks) => LmOps.binaryAucSeBy(df, ks, "s", "y")),
    "binaryAucCompare" -> ((df, ks) => LmOps.binaryAucCompareBy(df, ks, "s", "s2", "y")),
    "calibrationReport" -> ((df, ks) => LmOps.calibrationReportBy(df, ks, "pm", "y", bins = 4)),
    "isotonicCalibrate" -> ((df, ks) => LmOps.isotonicCalibrateBy(df, ks, "pm", "y", bins = 4)),
    "ksTwoSample" -> ((df, ks) => Profile.ksTwoSampleBy(df, ks, "x", "g", "A", "B")),
    "chiSquare" -> ((df, ks) => Profile.chiSquareBy(df, ks, "a", "b")),
    "trendTest" -> ((df, ks) => Profile.trendTestBy(df, ks, "x", "y")),
    "permTestRate" -> ((df, ks) => Profile.permTestRateBy(df, ks, "id", "g", "y", "A", "B", resamples = 8)),
    "permTestMean" -> ((df, ks) => Profile.permTestMeanBy(df, ks, "id", "g", "x", "A", "B", resamples = 8)),
    "spearman" -> ((df, ks) => Profile.spearmanBy(df, ks, "s", "s2")),
    "kendallTauB" -> ((df, ks) => Profile.kendallTauBBy(df, ks, "x", "x2")),
    "psi" -> ((df, ks) => Profile.psiBy(df, ks, "s", "g", "A", "B", buckets = 4)),
    "wasserstein1" -> ((df, ks) => Profile.wasserstein1By(df, ks, "s", "g", "A", "B")),
    "mutualInfo" -> ((df, ks) => Profile.mutualInfoBy(df, ks, "a", "b")))

  /** Rows as `|`-joined strings, sorted — exact, NULL spelled out. */
  def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq
      .map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|"))
      .sorted
}
