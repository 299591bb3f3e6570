package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}

import graft.plans.TopKPerKeyPlan

/** Builders for graft's custom logical plans. Lives in the sql package
  * (like [[bridge]]) because constructing a DataFrame from a raw
  * LogicalPlan is `private[sql]` in Spark 4 — the standard extension-
  * library pattern.
  *
  * Columns are referenced BY NAME and resolved here against the child's
  * analyzed output: a custom logical node is outside the analyzer's
  * column-resolution surface, so handing it pre-resolved
  * AttributeReferences (rather than unresolved Column wrappers) is what
  * makes the plan analyze cleanly.
  */
object relations {

  private def resolve(df: DataFrame, name: String): Attribute = {
    val out = df.asInstanceOf[Dataset[_]].queryExecution.analyzed.output
    out.filter(_.name == name) match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(
        s"column '$name' not found; available: ${out.map(_.name).mkString(", ")}")
      // post-join duplicate names: first-match would silently bind the
      // wrong side — fail like the analyzer's own ambiguity error instead
      case many => throw new IllegalArgumentException(
        s"column '$name' is ambiguous: ${many.size} attributes match " +
          s"(${many.map(a => s"$name#${a.exprId.id}").mkString(", ")}); " +
          "rename with .withColumnRenamed/.alias before topKPerKey")
    }
  }

  /** Adds graft's planner strategy to `session` unless it is already
    * there, so sessions built without spark.sql.extensions=
    * graft.GraftExtensions still plan graft's nodes. */
  private def registerStrategy(session: SparkSession): Unit = {
    val strategies = session.experimental.extraStrategies
    if (!strategies.contains(graft.GraftStrategies.TopKPerKeyStrategy)) {
      session.experimental.extraStrategies =
        strategies :+ graft.GraftStrategies.TopKPerKeyStrategy
    }
  }

  /** Resolves `keys` and `sort` against `df` and wraps its analyzed plan
    * in the node `mk` builds. */
  private def keyedNode(df: DataFrame, keys: Seq[String], sort: Seq[(String, Boolean)])(
      mk: (Seq[Attribute], Seq[SortOrder], LogicalPlan) => LogicalPlan): DataFrame = {
    val session = df.sparkSession.asInstanceOf[SparkSession]
    registerStrategy(session)
    val keyAttrs = keys.map(resolve(df, _))
    val order = sort.map { case (name, asc) =>
      SortOrder(resolve(df, name), if (asc) Ascending else Descending)
    }
    Dataset.ofRows(session,
      mk(keyAttrs, order, df.asInstanceOf[Dataset[_]].queryExecution.analyzed))
  }

  /** Top-k rows per key — plans [[TopKPerKeyPlan]], lowered by the graft
    * strategy to partial+final bounded heaps (see its Scaladoc for why
    * this beats a row_number window at scale). `sort` is (column,
    * ascending) pairs and should form a TOTAL order (include a unique
    * tie-break) for deterministic output, exactly as with row_number. */
  def topKPerKey(df: DataFrame, keys: Seq[String], sort: Seq[(String, Boolean)], k: Int): DataFrame =
    keyedNode(df, keys, sort)(TopKPerKeyPlan(_, _, k, _))

  /** Tie-safe map-side prune for rank()/dense_rank() top-N pipelines —
    * plans [[graft.plans.RankPrunePlan]]. Passes every row whose order
    * key might still rank ≤ k in its group and drops rows provably
    * outside; compose with the exact rank window downstream (the
    * [[graft.plans.WindowTopKRewrite]] optimizer rule does this
    * automatically for the standard idiom — this builder is the manual
    * form). Results of prune+window are identical to window alone. */
  def rankPrune(df: DataFrame, keys: Seq[String], sort: Seq[(String, Boolean)], k: Int): DataFrame =
    keyedNode(df, keys, sort)(graft.plans.RankPrunePlan(_, _, k, _))
}
