package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Fleet-wide physical-plan audit: plans EVERY registered query (no
  * execution) and records the scale-relevant shape counts — shuffles,
  * join strategies, global sorts, unkeyed windows, codegen spans, scans
  * with pushed filters — as one committed JSON artifact per round
  * (`plan_audit_r{N}.json`). This is the reviewable form of the 100 TB
  * posture: the WindowGuard spec already FAILS on the worst shape
  * (unpartitioned corpus windows); this artifact makes the rest of the
  * plan inventory inspectable and diffable round-over-round, so a new
  * query that sneaks in a cartesian product or an extra exchange shows
  * up in the diff, not in a production profile. `PlanAuditDiffSpec`
  * enforces the diff against the last committed artifact on every
  * `sbt test` run.
  *
  * AQE is disabled for the audit session so the STATIC plan is counted
  * (the driver/bench run with AQE on, which can only improve on these
  * shapes at runtime — e.g. demoting a sort-merge join to broadcast).
  * Exits nonzero if a CartesianProductExec appears outside the
  * documented whitelist.
  */
object PlanAudit {
  // queries whose plans legitimately contain a cartesian product, with
  // the reason the product stays bounded at any corpus size
  private val cartesianAllowed: Map[String, String] = Map.empty

  /** Scale-relevant shape counts of one query's static physical plan. */
  case class Shape(name: String, exchanges: Int, broadcasts: Int,
    smj: Int, bhj: Int, bnlj: Int, cartesian: Int, globalSorts: Int,
    unkeyedWindows: Int, codegenSpans: Int, scans: Int,
    scansWithPushdown: Int, err: Option[String])

  def shapeOf(name: String, plan: SparkPlan): Shape = {
    val nodes = plan.collect { case n => n }
    Shape(name,
      exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      smj = nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      bnlj = nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      cartesian = nodes.count(_.isInstanceOf[CartesianProductExec]),
      globalSorts = nodes.count {
        case s: SortExec => s.global
        case _ => false
      },
      unkeyedWindows = nodes.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      },
      codegenSpans = nodes.count(_.isInstanceOf[WholeStageCodegenExec]),
      scans = nodes.count(_.isInstanceOf[FileSourceScanExec]),
      scansWithPushdown = nodes.count {
        case f: FileSourceScanExec =>
          f.metadata.get("PushedFilters").exists(v => v != "[]")
        case _ => false
      },
      err = None)
  }

  /** The GROWTH-gated metrics: a query whose current plan increases any
    * of these vs the committed baseline is a scale regression (more
    * shuffles, a broadcast join demoted to sort-merge, a new cartesian,
    * a window that lost its partition keys) and fails the diff spec.
    * Decreases and the purely-informational counters (codegen spans,
    * scan counts) never gate. */
  def regressions(base: Shape, cur: Shape): Seq[String] = {
    def grew(what: String, b: Int, c: Int): Option[String] =
      if (c > b) Some(s"$what grew $b -> $c") else None
    Seq(
      grew("exchanges", base.exchanges, cur.exchanges),
      grew("smj", base.smj, cur.smj),
      grew("cartesian", base.cartesian, cur.cartesian),
      grew("unkeyed_windows", base.unkeyedWindows, cur.unkeyedWindows),
      grew("global_sorts", base.globalSorts, cur.globalSorts)).flatten
  }

  /** Parse a committed plan_audit_r{N}.json back into Shapes (the format
    * is this object's own emit — a flat regex parse is exact). */
  def readAudit(path: java.nio.file.Path): Map[String, Shape] = {
    val txt = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    val entry =
      ("\"([^\"]+)\": \\{\"exchanges\":(\\d+),\"broadcasts\":(\\d+)," +
        "\"smj\":(\\d+),\"bhj\":(\\d+),\"bnlj\":(\\d+),\"cartesian\":(\\d+)," +
        "\"global_sorts\":(\\d+),\"unkeyed_windows\":(\\d+)," +
        "\"codegen_spans\":(\\d+),\"scans\":(\\d+)," +
        "\"scans_with_pushdown\":(\\d+)").r
    entry.findAllMatchIn(txt).map { m =>
      m.group(1) -> Shape(m.group(1), m.group(2).toInt, m.group(3).toInt,
        m.group(4).toInt, m.group(5).toInt, m.group(6).toInt,
        m.group(7).toInt, m.group(8).toInt, m.group(9).toInt,
        m.group(10).toInt, m.group(11).toInt, m.group(12).toInt, None)
    }.toMap
  }

  /** Highest-numbered committed plan_audit_r{N}.json, if any. */
  def latestCommittedAudit(dir: String = "."): Option[java.nio.file.Path] = {
    val pat = "plan_audit_r(\\d+)\\.json".r
    Option(new java.io.File(dir).list()).toSeq.flatten
      .collect { case f @ pat(n) => (n.toInt, f) }
      .sortBy(-_._1).headOption
      .map(f => java.nio.file.Paths.get(dir, f._2))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = if (args.length > 1) args(1) else "plan_audit.json"
    // 8 fixed cores and no AQE: plan shapes that do not depend on the
    // host or on runtime statistics, so audits diff across rounds
    val spark = GraftSession.builder("8")
      .config("spark.sql.adaptive.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val shapes = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try shapeOf(name, fn(spark, sfDir).queryExecution.executedPlan)
      catch { case e: Throwable =>
        Shape(name, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
          Some(e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").take(120)))
      }
    }

    def jq(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = shapes.map { s =>
      val err = s.err.map(e => s""","err":${jq(e)}""").getOrElse("")
      s"""  ${jq(s.name)}: {"exchanges":${s.exchanges},"broadcasts":${s.broadcasts},"smj":${s.smj},"bhj":${s.bhj},"bnlj":${s.bnlj},"cartesian":${s.cartesian},"global_sorts":${s.globalSorts},"unkeyed_windows":${s.unkeyedWindows},"codegen_spans":${s.codegenSpans},"scans":${s.scans},"scans_with_pushdown":${s.scansWithPushdown}$err}"""
    }
    val ok = shapes.filter(_.err.isEmpty)
    val summary =
      s"""  "__summary": {"n_queries":${shapes.size},"n_plan_errors":${shapes.count(_.err.nonEmpty)},"total_exchanges":${ok.map(_.exchanges).sum},"total_smj":${ok.map(_.smj).sum},"total_bhj":${ok.map(_.bhj).sum},"total_cartesian":${ok.map(_.cartesian).sum},"total_unkeyed_windows":${ok.map(_.unkeyedWindows).sum},"queries_with_smj":${ok.count(_.smj > 0)},"queries_with_cartesian":${ok.count(_.cartesian > 0)},"sf":${jq(sfDir)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      ((lines :+ summary).mkString("{\n", ",\n", "\n}") + "\n").getBytes("UTF-8"))
    println(s"[plan-audit] wrote $outPath: ${shapes.size} queries, " +
      s"${shapes.count(_.err.nonEmpty)} plan errors, " +
      s"${ok.count(_.cartesian > 0)} with cartesian products, " +
      s"${ok.count(_.unkeyedWindows > 0)} with unkeyed windows")
    val badCart = ok.filter(s => s.cartesian > 0 &&
      !cartesianAllowed.contains(s.name))
    if (badCart.nonEmpty) {
      System.err.println("[plan-audit] CartesianProductExec outside the " +
        s"whitelist: ${badCart.map(_.name).mkString(", ")}")
      spark.stop(); sys.exit(1)
    }
    val badErr = shapes.filter(_.err.nonEmpty)
    if (badErr.nonEmpty) {
      System.err.println("[plan-audit] plan-time failures: " +
        badErr.map(s => s"${s.name} (${s.err.get})").mkString("; "))
      spark.stop(); sys.exit(2)
    }
    spark.stop()
  }
}
