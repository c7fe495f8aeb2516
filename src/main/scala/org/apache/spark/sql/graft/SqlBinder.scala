package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias,
  UnresolvedWith}
import org.apache.spark.sql.classic
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.command.ExplainCommand

/** Binds a parsed SQL query's table names to views for that query alone,
  * as one outer CTE: Spark's CTE scoping resolves them (a CTE of the query
  * shadows a view of its name), and the session catalog is neither read nor
  * written. Under `org.apache.spark.sql` for `Dataset.ofRows` and its errors. */
object SqlBinder {

  /** (the single-part table names `plan` reads, the CTE names it
    * defines), subquery expressions, CTE bodies and an EXPLAIN's plan
    * included. */
  def names(plan: LogicalPlan): (Seq[String], Seq[String]) = {
    val read, defined = Seq.newBuilder[String]
    def walk(p: LogicalPlan): Unit = p.foreachWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.size == 1 =>
        read += r.multipartIdentifier.head
      case w: UnresolvedWith =>
        w.cteRelations.foreach { case (name, body, _) => defined += name; walk(body) }
      case e: ExplainCommand => walk(e.logicalPlan)
      case _ =>
    }
    walk(plan)
    (read.result().distinct, defined.result())
  }

  /** `plan` analyzed with each table name it reads bound to `view(name)`,
    * a (CTE name, frame) pair. A name with no view that is no CTE of the
    * query fails as table-not-found. */
  def bind(spark: SparkSession, plan: LogicalPlan)(
      view: String => Option[(String, DataFrame)]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val same = session.sessionState.conf.resolver
    val (read, defined) = names(plan)
    val views = read.flatMap(name => view(name).orElse {
      if (defined.exists(same(_, name))) None
      else throw QueryCompilationErrors.tableOrViewNotFound(Seq(name))
    }).distinctBy(_._1)
    def withViews(p: LogicalPlan): LogicalPlan =
      if (views.isEmpty) p
      else UnresolvedWith(p, views.map { case (name, df) =>
        (name, SubqueryAlias(name, df.queryExecution.analyzed), None)
      })
    classic.Dataset.ofRows(session, plan match {
      case e: ExplainCommand => e.copy(logicalPlan = withViews(e.logicalPlan))
      case p => withViews(p)
    })
  }
}
