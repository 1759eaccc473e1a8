package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** Shared key handling of the keyed eval/drift statistics in [[LmOps]] and
  * [[Profile]]. Each statistic has ONE body, written over `keys`; its
  * global form is that body called with `keys = Nil`: `groupBy()` is then
  * the global aggregate (one row even on empty input), `Window.partitionBy()`
  * the unpartitioned window, and a join on `keys` the cross join against a
  * one-row side table.
  */
private[operators] object Keyed {

  /** Checks that no key collides with one of the statistic's `reserved`
    * column names and returns the complete-case filter over the keys (rows
    * with a NULL key drop; `lit(true)` when there are no keys). */
  def guard(keys: Seq[String], reserved: Set[String]): Column = {
    require(keys.forall(k => !reserved(k)),
      s"key columns may not collide with internals: ${reserved.mkString("/")}")
    keys.map(col(_).isNotNull).foldLeft(lit(true))(_ && _)
  }

  /** A per-key side table about to be joined back on the keys. With no
    * keys it holds one row (or one per bucket, ≤1025), so it is hinted
    * broadcast: a 1-row frame then plans a broadcast nested-loop join, never
    * a sort-merge join or a cartesian product. With keys its size grows
    * with the key count, and sizing is left to AQE. */
  def side(df: DataFrame, keys: Seq[String]): DataFrame =
    if (keys.isEmpty) broadcast(df) else df
}
