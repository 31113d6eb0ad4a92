package graft.sources.txtable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/**
 * Analysis-time rewrite of every [[TxTableV2]] relation into the plan
 * [[graft.sources.TxTable.readAt]] builds — the Delta-style
 * library-plan-behind-a-connector architecture: the V2 relation is a
 * NAME, the library owns the plan. Injected by
 * [[graft.plans.GraftExtensions]] as a resolution rule.
 *
 * The replacement preserves the relation's output attribute ids via an
 * aliasing Project (parents resolved against the relation's exprIds may
 * already exist in the same fixed-point batch), matching columns BY
 * NAME — a commit changing the schema between relation creation and
 * analysis surfaces as a loud missing-column error, never silent
 * misalignment.
 */
case class TxTableRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // WRITE targets keep their V2 relation: the DSv2 write path
    // (AppendData / overwrite, and the InsertIntoStatement that becomes
    // one) resolves against the relation and executes through the
    // table's V1-fallback InsertableRelation — only READ positions
    // rewrite to the snapshot plan. (The write's SOURCE query still
    // rewrites: it is not the target.)
    val writeTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    // the DML target arrives wrapped (SubqueryAlias over the relation) —
    // search the subtree, not just the root
    def isTxRelation(p: LogicalPlan): Boolean = p.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[TxTableV2] => r
    }.nonEmpty
    plan.foreach {
      case i: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement =>
        writeTargets.add(i.table); ()
      case w: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand =>
        writeTargets.add(w.table); ()
      // row-level SQL DML has no V2 execution path here — without this
      // intercept the rule would rewrite the TARGET into the snapshot
      // plan and Spark would fail with a misleading derived-plan error;
      // fail with the documented routing instead
      case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable
          if isTxRelation(d.table) => dmlRefused("DELETE")
      case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable
          if isTxRelation(u.table) => dmlRefused("UPDATE")
      case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable
          if isTxRelation(m.targetTable) => dmlRefused("MERGE")
      case _ => ()
    }
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[TxTableV2] && !writeTargets.contains(r) =>
        val t = r.table.asInstanceOf[TxTableV2]
        // the SAME analyzed plan the relation's schema derivation built
        // (tip-keyed cache) — one commit listing + footer pass per
        // (root, tip) across inferSchema AND this rewrite (round 20)
        rewire(r, t.name(),
          TxTableSource.snapshotPlan(spark, t.root, t.asOf))
      // virtual metadata tables (t$history / t$cursors) rewrite the same
      // way — the relation is a name, the library owns the plan
      case r: DataSourceV2Relation if r.table.isInstanceOf[TxMetaV2] =>
        val t = r.table.asInstanceOf[TxMetaV2]
        rewire(r, t.name(),
          TxMetaV2.planFor(spark, t.root, t.kind).queryExecution.analyzed)
      // batch change-feed reads (option("feed", "true"))
      case r: DataSourceV2Relation if r.table.isInstanceOf[TxFeedV2] =>
        val t = r.table.asInstanceOf[TxFeedV2]
        // LOUD, never lossy (same stance as changeFeedFrom): commits
        // below the oldest retained id were folded into a checkpoint
        // and are feed-invisible — a fromCommit below that would
        // silently return a changelog with holes
        val feed = graft.sources.TxTable.changeFeedOver(spark, t.root, t.keys,
            t.withPreimage) { all =>
          require(t.fromCommit >= all.min,
            s"txtable: feed read fromCommit=${t.fromCommit} predates the " +
              s"retained history (oldest commit ${all.min}) — those commits " +
              "were folded into a checkpoint and are feed-invisible; read " +
              s"the snapshot instead, or set fromCommit >= ${all.min}")
          Some((t.fromCommit, t.toCommit))
        }.get._1
        rewire(r, t.name(), feed.queryExecution.analyzed)
    }
  }

  private def dmlRefused(kind: String): Nothing =
    throw new UnsupportedOperationException(
      s"txtable: SQL $kind against a txtable relation routes through the " +
        "library — TxTable.sqlDml(spark, statement, tables) / TxSql.exec " +
        "(the positional DV write has no DataSource-V2 execution path)")

  private def rewire(r: DataSourceV2Relation, name: String,
      snapshot: LogicalPlan): LogicalPlan = {
    val byName = snapshot.output.map(a => a.name -> a).toMap
    val projections: Seq[NamedExpression] = r.output.map { o =>
      val src = byName.getOrElse(o.name,
        throw new IllegalStateException(
          s"txtable: column '${o.name}' of relation $name is " +
            s"missing from the snapshot read (schema changed between " +
            s"relation creation and analysis?) — snapshot columns: " +
            snapshot.output.map(_.name).mkString(", ")))
      Alias(src, o.name)(exprId = o.exprId)
    }
    Project(projections, snapshot)
  }
}
