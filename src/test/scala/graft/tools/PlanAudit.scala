package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Mechanical plan audit (r13 verdict #5): the bench got
  * `value_norm`; this gives the PLANS the same machine-checked
  * treatment. For every `SparkEntry.queries` entry it builds the
  * final DataFrame (AQE off, so the physical plan is deterministic),
  * counts the scale-relevant plan shapes, and compares each count
  * against a pinned per-query budget in `PLAN_BUDGET.json`:
  *
  *   - `ex` — ShuffleExchangeExec count (every one is a full
  *     shuffle of its input at 100 TB; a regression means a new
  *     exchange crept into the plan)
  *   - `cj` — CartesianProduct + BroadcastNestedLoopJoin count
  *     (all-pairs shapes; only contract-bounded meters may carry
  *     them, and their budget pins exactly how many)
  *   - `uw` — WindowExec with an EMPTY partitionSpec (single-task
  *     global windows; only band-carry/bounded-domain sites are
  *     budgeted, per the PLANS.md contract at each site)
  *   - `sc` — FileSourceScanExec count (a scan-count regression
  *     means a relation stopped being reused/persisted and is being
  *     re-read — the q191 4-references-8-scans trap, mechanized)
  *
  * Budgets are UPPER bounds: `actual > budget` fails and names the
  * query and the regressed count; doing strictly better is never a
  * failure. The audit pins one SF (the file records it) because
  * join-strategy choices read file statistics.
  *
  * Usage:
  *   Test/runMain graft.tools.PlanAudit <sfDir> [--write]
  *     [--budget <file>] [q...]
  * `--write` regenerates the budget file from the current plans
  * (review the diff like any other code change); without it the run
  * is the CHECK, exiting 1 on any regression. Passing query names
  * audits the subset (the fast loop while iterating on one query).
  * `--budget <file>` selects a budget file other than the default —
  * the expensive-tier sf0.1 budget (`PLAN_BUDGET.sf0.1.json`, r14
  * verdict #5) lives beside the full sf0.01 one because join-strategy
  * choices read file statistics and can differ between SFs. Such a
  * tier file names its own query set: the audit covers exactly its
  * queries and never asks for full coverage.
  *
  * Cost note: building a query's DataFrame runs its eager stages
  * (fits, registry demo ingests) — a full audit costs about one
  * bench run; the audited artifact is the FINAL plan each query
  * returns, the one the driver executes and hashes.
  */
object PlanAudit {

  val BudgetFile = "PLAN_BUDGET.json"

  final case class Counts(ex: Int, cj: Int, uw: Int, sc: Int) {
    def regressions(budget: Counts): Seq[String] = Seq(
      (ex, budget.ex, "ex/exchanges"),
      (cj, budget.cj, "cj/cartesian-or-bnlj"),
      (uw, budget.uw, "uw/unpartitioned-windows"),
      (sc, budget.sc, "sc/file-scans")
    ).collect { case (a, b, label) if a > b => s"$label $a > $b" }
    def json: String = s"""{"ex":$ex,"cj":$cj,"uw":$uw,"sc":$sc}"""
  }

  def counts(plan: SparkPlan): Counts = {
    val all = plan.collectWithSubqueries { case p => p }
    Counts(
      all.count(_.isInstanceOf[ShuffleExchangeExec]),
      all.count(p => p.isInstanceOf[CartesianProductExec]
        || p.isInstanceOf[BroadcastNestedLoopJoinExec]),
      all.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      },
      all.count(_.isInstanceOf[FileSourceScanExec]))
  }

  /** Parse the budget file (written by `--write`, one query per
    * line) — (sfTag, name → Counts).
    */
  def readBudget(path: String): (String, Map[String, Counts]) = {
    val text = Files.readString(Paths.get(path))
    val sf = "\"sf\"\\s*:\\s*\"([^\"]+)\"".r
      .findFirstMatchIn(text).map(_.group(1)).getOrElse("?")
    val entry = ("\"(q[0-9]+[a-z0-9_]*)\"\\s*:\\s*\\{\"ex\":(\\d+)," +
      "\"cj\":(\\d+),\"uw\":(\\d+),\"sc\":(\\d+)\\}").r
    val m = entry.findAllMatchIn(text).map(g =>
      g.group(1) -> Counts(g.group(2).toInt, g.group(3).toInt,
        g.group(4).toInt, g.group(5).toInt)).toMap
    (sf, m)
  }

  /** The command line: `sfDir`, the query-name subset (empty = all),
    * `--write`, and the budget file. `--budget` must name a file — a
    * missing value, or one that is another flag, is rejected rather
    * than read as a query name or silently replaced by the default.
    */
  final case class Args(sfDir: String, only: Set[String], write: Boolean,
      budgetFile: String) {
    /** Any budget file but the full default is a tier file: it names
      * its own query set, so the audit covers exactly those queries.
      */
    def tier: Boolean = budgetFile != BudgetFile
  }

  def parseArgs(args: Array[String]): Args = {
    val budgetIdx = args.indexOf("--budget")
    if (budgetIdx >= 0)
      require(budgetIdx + 1 < args.length &&
        !args(budgetIdx + 1).startsWith("--"),
        "--budget needs a file name")
    val positional = args.zipWithIndex.collect {
      case (a, i) if !a.startsWith("--")
        && (budgetIdx < 0 || i != budgetIdx + 1) => a
    }
    require(positional.nonEmpty,
      "usage: PlanAudit <sfDir> [--write] [--budget <file>] [queryName...]")
    Args(positional.head, positional.drop(1).toSet, args.contains("--write"),
      if (budgetIdx >= 0) args(budgetIdx + 1) else BudgetFile)
  }

  def main(args: Array[String]): Unit = {
    val cli = parseArgs(args)
    val Args(sfDir, only, write, budgetFile) = cli
    val sfTag = sfDir.split("/").last
    // a tier file that exists fixes the audited set, so the coverage
    // check below always holds for it (and a --write refreshes the same
    // queries); the full default file never does
    val tierQueries =
      if (cli.tier && Files.exists(Paths.get(budgetFile)))
        Some(readBudget(budgetFile)._2.keySet)
      else None
    tierQueries.foreach { names =>
      val unknown = names.diff(graft.SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"$budgetFile budgets unknown queries: ${unknown.mkString(", ")}")
    }

    val spark = graft.GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt,
      appName = "graft-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    // deterministic physical plans: no runtime re-planning between
    // audit runs (the production run keeps AQE on — it only ever
    // IMPROVES on the audited static shape)
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val queries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        (only.isEmpty || only.contains(n)) && tierQueries.forall(_(n))
      }
    val audited = scala.collection.mutable.LinkedHashMap.empty[String, Counts]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try {
        val c = counts(fn(spark, sfDir).queryExecution.executedPlan)
        audited(name) = c
        println(s"[plan-audit] $name ${c.json}")
      } catch { case e: Throwable =>
        errors(name) = String.valueOf(e.getMessage)
        System.err.println(s"[plan-audit] $name FAILED to build: " +
          e.getMessage)
      }
    }
    if (errors.nonEmpty) {
      System.err.println(
        s"[plan-audit] ${errors.size} queries failed to build: " +
          errors.keys.mkString(", "))
      spark.stop(); sys.exit(2)
    }

    if (write) {
      val body = audited.toSeq.sortBy(_._1)
        .map { case (n, c) => s"""    "$n": ${c.json}""" }
        .mkString(",\n")
      Files.writeString(Paths.get(budgetFile),
        s"""{\n  "sf": "$sfTag",\n  "metrics": {"ex": "shuffle exchanges", "cj": "cartesian/bnlj joins", "uw": "unpartitioned windows", "sc": "file scans"},\n  "queries": {\n$body\n  }\n}\n""")
      println(s"[plan-audit] wrote ${audited.size} budgets to $budgetFile")
      spark.stop()
      return
    }

    val (budgetSf, budget) = readBudget(budgetFile)
    if (only.isEmpty) {
      val missing = audited.keySet.diff(budget.keySet)
      require(missing.isEmpty,
        s"queries without a plan budget: ${missing.mkString(", ")} — " +
          "run with --write and review the diff")
    }
    require(budgetSf == sfTag,
      s"budget file pinned at $budgetSf; audit ran at $sfTag")
    val regressed = audited.toSeq.flatMap { case (n, c) =>
      budget.get(n).toSeq.flatMap(b =>
        c.regressions(b).map(r => s"$n: $r"))
    }
    regressed.foreach(r => System.err.println(s"[plan-audit] REGRESSED $r"))
    println(s"[plan-audit] ${audited.size} audited, " +
      s"${regressed.size} regressions vs $budgetFile ($budgetSf)")
    spark.stop()
    if (regressed.nonEmpty) sys.exit(1)
  }
}
