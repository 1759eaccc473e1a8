package graft

import graft.operators.LmOps

/** Edge contracts of the 17 eval/drift statistics whose global form is
  * their keyed (`*By`) form called with no keys. The expected rows were
  * recorded from the implementation in which every global form still had a
  * body of its own, so they pin that the no-key call reproduces it: empty
  * input, an all-NULL value column, a single label class (and a single
  * two-sample group), and a single distinct value. Rows are `|`-joined and
  * sorted ([[EvalEdgeFixtures.rowsOf]]).
  */
class EvalEdgeSpec extends SparkSpec {
  import EvalEdgeFixtures._

  private case class Rows(rows: String*)

  /** statistic → (output columns, edge input → rows). */
  private val expected: Map[String, (String, Map[String, Rows])] = Map(
    "binaryAuc" -> ("n,n_pos,n_neg,auc_micro,gini_micro", Map(
      "empty" -> Rows("null|null|null|null|null"),
      "allNull" -> Rows("null|null|null|null|null"),
      "oneClass" -> Rows("12|12|0|0|-1000000"),
      "oneValue" -> Rows("12|6|6|500000|0"))),
    "binaryAp" -> ("n,n_pos,n_neg,ap_micro,prevalence_micro", Map(
      "empty" -> Rows("0|0|0|0|0"),
      "allNull" -> Rows("0|0|0|0|0"),
      "oneClass" -> Rows("12|12|0|1000000|1000000"),
      "oneValue" -> Rows("12|6|6|500000|500000"))),
    "binaryApCi" -> ("n,n_pos,n_neg,ap_micro,prevalence_micro,b,se6,lo6,hi6", Map(
      "empty" -> Rows(),
      "allNull" -> Rows(),
      "oneClass" -> Rows("12|12|0|1000000|1000000|8|0.0|1.0|1.0"),
      "oneValue" -> Rows("12|6|6|500000|500000|8|0.173324|0.160291|0.839709"))),
    "binaryAucSe" -> ("n,n_pos,n_neg,auc_micro,se6,lo6,hi6", Map(
      "empty" -> Rows("null|null|null|null|null|0.0|1.0"),
      "allNull" -> Rows("null|null|null|null|null|0.0|1.0"),
      "oneClass" -> Rows("12|12|0|0|0.0|0.0|0.0"),
      "oneValue" -> Rows("12|6|6|500000|0.0|0.5|0.5"))),
    "binaryAucCompare" -> ("n,n_pos,n_neg,auc_a_micro,auc_b_micro,diff_micro,se6,z6", Map(
      "empty" -> Rows("null|null|null|null|null|null|0.0|0.0"),
      "allNull" -> Rows("null|null|null|null|null|null|0.0|0.0"),
      "oneClass" -> Rows("12|12|0|0|0|0|0.0|0.0"),
      "oneValue" -> Rows("12|6|6|500000|500000|0|0.0|0.0"))),
    "calibrationReport" -> ("bin,n,n_pos,conf_micro,acc_micro,brier_micro,ece_micro", Map(
      "empty" -> Rows(),
      "allNull" -> Rows(),
      "oneClass" -> Rows("0|3|3|116666|1000000|345241|499167", "1|3|3|326666|1000000|345241|499167", "2|3|3|640000|1000000|345241|499167", "3|3|3|920000|1000000|345241|499167"),
      "oneValue" -> Rows("2|12|6|500000|500000|250000|0"))),
    "isotonicCalibrate" -> ("bin,n,n_pos,conf_micro,iso_micro", Map(
      "empty" -> Rows(),
      "allNull" -> Rows(),
      "oneClass" -> Rows("0|3|3|116666|1000000", "1|3|3|326666|1000000", "2|3|3|640000|1000000", "3|3|3|920000|1000000"),
      "oneValue" -> Rows("2|12|6|500000|500000"))),
    "ksTwoSample" -> ("at_value,n_a,n_b,cum_a,cum_b,d_micro", Map(
      "empty" -> Rows(),
      "allNull" -> Rows(),
      "oneClass" -> Rows("1|12|0|4|0|0"),
      "oneValue" -> Rows("3|8|4|8|4|0"))),
    "chiSquare" -> ("n,n_a,n_b,dof,chi2_micro,cramers_v", Map(
      "empty" -> Rows(),
      "allNull" -> Rows(),
      "oneClass" -> Rows("12|3|2|2|6133332|0.71492"),
      "oneValue" -> Rows("12|1|1|0|0|0.0"))),
    "trendTest" -> ("n,n_pos,n_groups,trend,ca6", Map(
      "empty" -> Rows("0|0|0|0|0.0"),
      "allNull" -> Rows("0|0|0|0|0.0"),
      "oneClass" -> Rows("12|12|3|0|0.0"),
      "oneValue" -> Rows("12|6|1|0|0.0"))),
    "permTestRate" -> ("n_a,n_b,x_a,x_b,d_obs_micro,b,n_ge,p_micro", Map(
      "empty" -> Rows("0|0|0|0|0|0|0|1000000"),
      "allNull" -> Rows("8|4|4|2|0|8|8|1000000"),
      "oneClass" -> Rows("12|0|12|0|0|8|8|1000000"),
      "oneValue" -> Rows("8|4|4|2|0|8|8|1000000"))),
    "permTestMean" -> ("n_a,n_b,s_a,s_b,d_obs_micro,b,n_ge,p_micro", Map(
      "empty" -> Rows("0|0|0|0|0|0|0|1000000"),
      "allNull" -> Rows("0|0|0|0|0|0|0|1000000"),
      "oneClass" -> Rows("12|0|24|0|0|8|8|1000000"),
      "oneValue" -> Rows("8|4|24|12|0|8|8|1000000"))),
    "spearman" -> ("n,rho_micro", Map(
      "empty" -> Rows("0|0"),
      "allNull" -> Rows("0|0"),
      "oneClass" -> Rows("12|863637"),
      "oneValue" -> Rows("12|1000000"))),
    "kendallTauB" -> ("n,conc,disc,tie_x_pairs,tie_y_pairs,tau_b6", Map(
      "empty" -> Rows("0|0|0|0|0|0.0"),
      "allNull" -> Rows("0|0|0|0|0|0.0"),
      "oneClass" -> Rows("12|31|5|18|18|0.541667"),
      "oneValue" -> Rows("12|0|0|66|66|0.0"))),
    "psi" -> ("bucket,lo,n_a,n_b,share_a_micro,share_b_micro,term9,psi6,n_skipped", Map(
      "empty" -> Rows(),
      "allNull" -> Rows(),
      // one group only: every bucket is one-sided and group B's shares are
      // NULL, the rows DuckDB's q212 SQL gives for the same input
      "oneClass" -> Rows("0|1|5|0|416666|null|null|0.0|3", "1|4|3|0|250000|null|null|0.0|3",
        "2|7|4|0|333333|null|null|0.0|3"),
      "oneValue" -> Rows("0|5|8|4|1000000|1000000|0.0|0.0|0"))),
    "wasserstein1" -> ("n_a,n_b,n_values,w1_micro", Map(
      "empty" -> Rows(),
      "allNull" -> Rows(),
      "oneClass" -> Rows("12|0|9|0"),
      "oneValue" -> Rows("8|4|1|0"))),
    "mutualInfo" -> ("n,n_a,n_b,mi6,h_a6,h_b6,nmi6", Map(
      "empty" -> Rows("0|0|0|0.0|0.0|0.0|0.0"),
      "allNull" -> Rows("0|0|0|0.0|0.0|0.0|0.0"),
      "oneClass" -> Rows("12|3|2|0.325518|1.077556|0.693147|0.376654"),
      "oneValue" -> Rows("12|1|1|0.0|0.0|0.0|0.0"))))

  test("global forms: empty, all-NULL, one-class and one-value inputs give the pinned rows") {
    assert(expected.keySet == globals.map(_._1).toSet)
    val inputs = edgeInputs(spark)
    for ((name, f) <- globals; (input, df) <- inputs) {
      val (cols, outcomes) = expected(name)
      val out = f(df)
      assert(out.columns.mkString(",") == cols, s"$name/$input columns")
      assert(rowsOf(out) == outcomes(input).rows, s"$name/$input")
    }
  }

  test("keyed forms: NULL-key rows drop, one key value gives the global row plus the key") {
    val b = base(spark)
    val withNulls = withNullKeys(spark)
    val global = globals.toMap
    assert(keyed.map(_._1) == globals.map(_._1))
    for ((name, f) <- keyed) {
      val g = global(name)(b)
      val k = f(withNulls, Seq("k"))
      assert(k.columns.toSeq == "k" +: g.columns.toSeq, s"$name columns")
      assert(rowsOf(k) == rowsOf(g).map("k1|" + _), name)
      // the NULL-key rows would move the statistic if they were kept
      assert(rowsOf(global(name)(withNulls)) != rowsOf(g), s"$name: NULL-key rows are inert")
    }
  }

  test("a key that collides with an internal column is refused") {
    val b = base(spark).withColumnRenamed("k", "score")
    intercept[IllegalArgumentException](LmOps.binaryAucBy(b, Seq("score"), "s", "y"))
    intercept[IllegalArgumentException](
      graft.operators.Profile.ksTwoSampleBy(b.withColumnRenamed("score", "v"),
        Seq("v"), "x", "g", "A", "B"))
  }
}
