package graft

/** Shared SPARK_GRAFT_QUERIES token matching for Bench and Verify (and
  * Explain's query arguments).
  *
  * Query numbers share prefixes (q13 is a prefix of q130..q136), so plain
  * substring matching silently over-selects: "q13" used to pick q13_detrend
  * PLUS q130-q136. Each token therefore matches on a NAME BOUNDARY first —
  * the full name, or a prefix ending at '_' — and only falls back to
  * substring when no boundary match exists in the query set at all (so
  * "detrend" still selects q13_detrend, and a typo still errs toward
  * selecting something rather than silently nothing).
  */
object QueryFilter {
  def selector(tokens: Seq[String], allNames: Iterable[String]): String => Boolean = {
    val names = allNames.toSeq
    val preds: Seq[String => Boolean] = tokens.map { t =>
      val boundary = (n: String) => n == t || n.startsWith(t + "_")
      if (names.exists(boundary)) boundary
      else (n: String) => n.contains(t)
    }
    n => preds.exists(_(n))
  }
}
