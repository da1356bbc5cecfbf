package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The pinned physical plans (r5 VERDICT #7), the one plan generator.
  * One hermetic capture per registered query yields its operator tree
  * (the tree block of `explain("formatted")`) and the shuffle /
  * broadcast / sort / cartesian / job counts read from that tree. One
  * pass writes both artifacts: `PLAN_BUDGETS.md` (the counts table) and
  * `PLANS.md` (one tree section per query). `PlanBudgetSpec` checks both
  * against a fresh capture, so an edit that adds an exchange to any
  * query, or otherwise reshapes its plan, fails the suite loudly instead
  * of shipping a silent extra shuffle to the 100 TB cluster.
  *
  * Capture is static (the pre-AQE plan at sf0.001, the same fixture
  * PlanSpec pins against), so both artifacts are deterministic: AQE can
  * only REMOVE exchanges at runtime, never add them, which makes the
  * static count the upper bound that matters for budget drift. Only the
  * tree block is kept: the per-node detail sections carry expression
  * ids, lambda names and projection orders that differ between two runs
  * of one commit. A before/after plan comparison across commits is a
  * `git diff` of `PLANS.md` regenerated at each.
  */
object PlanBudget {

  /** `jobs` is the count of Spark jobs the query launches at
    * CONSTRUCTION time (eager localCheckpoints, bounded driver-sample
    * collects) — work the static node counts cannot see. r11 verdict
    * #3: eval_bt reported 0/0/0/0 because its five MM rounds are
    * checkpoint jobs that run before the returned plan exists, so the
    * budget gate that exists to catch expensive plans saw an empty
    * one. The jobs column makes iterative queries' real cost visible
    * and pinned: an edit that adds an MM round (or un-stages a
    * checkpoint) moves the number and fails PlanBudgetSpec loudly.
    */
  final case class Counts(shuffles: Int, broadcasts: Int, sorts: Int,
      cartesians: Int, jobs: Int)

  /** One query's capture: its operator tree and the counts read from it. */
  final case class Capture(tree: String, counts: Counts)

  /** The operator-tree block of a formatted explain (everything before
    * the per-node detail sections).
    */
  private[graft] def tree(df: DataFrame): String = {
    val full = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val cut = full.indexOf("\n\n(1)")
    if (cut >= 0) full.substring(0, cut) else full
  }

  private val NodeRx = """(?m)^[\s+:*-]*([A-Za-z][A-Za-z0-9]*)[^\n]*\(\d+\)$""".r

  /** Count plan nodes by name in a tree block. `Exchange` in formatted
    * mode is always a shuffle (broadcasts print as `BroadcastExchange`);
    * reused subtrees (`ReusedExchange`) are NOT counted — the work
    * happens once.
    */
  private def counts(tree: String, jobs: Int): Counts = {
    val names = NodeRx.findAllMatchIn(tree).map(_.group(1)).toSeq
    Counts(
      shuffles = names.count(_ == "Exchange"),
      broadcasts = names.count(_ == "BroadcastExchange"),
      sorts = names.count(n => n == "Sort" || n == "SortAggregate"),
      cartesians = names.count(n =>
        n == "CartesianProduct" || n == "BroadcastNestedLoopJoin"),
      jobs = jobs)
  }

  /** Hermetic capture (r8 VERDICT #2): a query that `.cache()`s an
    * intermediate (rec_als's ratings) plans differently depending on
    * whether an EARLIER query already materialized that cache — a
    * materialized InMemoryRelation carries real (small) stats and
    * Catalyst flips SMJ→BHJ, so the captured plan was suite-order-
    * dependent. Clearing the cache manager immediately before each
    * capture makes every `.cache()` register fresh (unmaterialized,
    * default stats) so the pin is the cold-session plan regardless of
    * what ran before. Session-scoped indexes (kg_build/graph_build)
    * live as localCheckpoint RDD blocks, which `clearCache` does not
    * touch — they re-materialize lazily if a later consumer needs the
    * cache-manager entry again.
    *
    * The blanket clear is deliberate (r9 ADVICE weighed): clearing
    * only before known cache-sensitive queries would need a hand-
    * maintained list whose omissions silently reintroduce the r8
    * order-dependent pins, and Caches.sweep-with-keep-set still
    * drops the same cache-manager entries (hermeticity REQUIRES
    * that). The cost — a few eager-cache constructions (rec_als)
    * re-materializing per capture — is ~seconds across the 345-query
    * generator run, paid only in dev tooling, never in a query path.
    */
  def capture(spark: SparkSession,
      fn: (SparkSession, String) => DataFrame, dir: String): Capture = {
    // Pre-build the two session-scoped indexes OUTSIDE the job-count
    // window: whichever query happens to be the first kg/graph consumer
    // in registry order would otherwise absorb the index build's jobs
    // into its pin — a value that then depends on what ran earlier in
    // the session (the r12 kg_coarse drift: pinned 5 from a fresh
    // generator session where kg_coarse was the first kg() caller,
    // measured 3 in the suite whose earlier specs had built the index).
    // The bench itemizes kg_build/graph_build separately for the same
    // reason; the jobs column pins pure query-construction cost. The
    // tables' schema memo is warmed here too: the first reader of a table
    // pays its schema-inference job, and which query that is depends on
    // registry order.
    Tables.names.foreach(Tables(spark, dir, _))
    Harness.indexes(spark, dir)
    spark.catalog.clearCache()
    // AQE off for the capture only: under AQE one construction action
    // (an eager checkpoint) submits one job PER MATERIALIZED QUERY
    // STAGE, and stage reuse is a runtime decision — attribution_markov
    // measured 57 vs 58 across two identical sessions. Without AQE a
    // job is an ACTION (checkpoint / driver sample / broadcast build),
    // which is the semantic this column pins: how many staged rounds
    // the query really runs. Execution paths (Verify/Bench) keep AQE.
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val (df, jobs) = Harness.countJobs(spark)(fn(spark, dir))
      val t = tree(df)
      Capture(t, counts(t, jobs))
    } finally spark.conf.set(key, saved)
  }

  /** Every registered query, captured against `dir`, in name order. */
  def table(spark: SparkSession, dir: String): Seq[(String, Capture)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> capture(spark, fn, dir)
    }

  private val Command = "`sbt \"runMain graft.PlanBudget /root/testdata/sf0.001\"`"

  def render(rows: Seq[(String, Capture)]): String = {
    val sb = new StringBuilder
    sb.append("# PLAN_BUDGETS — machine-checked per-query plan-shape budgets\n\n")
    sb.append(s"Generated, together with `PLANS.md`, by $Command;\n")
    sb.append("asserted row-for-row by `PlanBudgetSpec`. Columns: static counts of\n")
    sb.append("shuffle `Exchange`, `BroadcastExchange`, `Sort`(+SortAggregate), and\n")
    sb.append("cartesian (`CartesianProduct`/`BroadcastNestedLoopJoin`) nodes in the\n")
    sb.append("operator tree `PLANS.md` pins (sf0.001, captured with AQE disabled;\n")
    sb.append("pre-AQE is the static upper bound — at runtime AQE only removes exchanges, and its\n")
    sb.append("per-stage job submission would make counts nondeterministic).\n")
    sb.append("`jobs` counts the Spark jobs launched at\n")
    sb.append("construction time (eager checkpoints / bounded driver samples) —\n")
    sb.append("with AQE off, where a LAZY checkpoint runs only its broadcasts. Under\n")
    sb.append("AQE (the runtime default) building a lazy checkpoint runs every\n")
    sb.append("non-final shuffle and broadcast stage of its plan, so a lazy-round\n")
    sb.append("query that reads `jobs 0` here launches jobs at construction at\n")
    sb.append("runtime (graph_labelprop: 16 at construction and 6 in its action,\n")
    sb.append("against 0 and 2 with AQE off). The column pins\n")
    sb.append("the cost of iterative queries whose staged rounds never appear in\n")
    sb.append("the returned static plan (eval_bt's five MM rounds, rec_als's four\n")
    sb.append("half-steps). Table schemas are inferred before the capture, so\n")
    sb.append("schema-inference jobs are not counted. An intentional plan change\n")
    sb.append("regenerates this file and `PLANS.md`;\n")
    sb.append("an unintentional one fails the suite with the diff.\n\n")
    sb.append("| query | shuffles | broadcasts | sorts | cartesians | jobs |\n")
    sb.append("|---|---|---|---|---|---|\n")
    rows.foreach { case (n, Capture(_, c)) =>
      sb.append(s"| $n | ${c.shuffles} | ${c.broadcasts} | ${c.sorts} | ${c.cartesians} | ${c.jobs} |\n")
    }
    sb.toString
  }

  def renderPlans(rows: Seq[(String, Capture)]): String = {
    val sb = new StringBuilder
    sb.append("# PLANS — the operator tree of every registered query\n\n")
    sb.append(s"Generated, together with `PLAN_BUDGETS.md`, by $Command;\n")
    sb.append("asserted section-for-section by `PlanBudgetSpec`. Each section is the\n")
    sb.append("operator-tree block of the query's `explain(\"formatted\")` physical\n")
    sb.append("plan at sf0.001 on `local[4]`, captured with AQE disabled\n")
    sb.append("(`spark.sql.adaptive.enabled=false`): the static plan, whose exchanges\n")
    sb.append("AQE can only remove at runtime. The per-node detail sections are left\n")
    sb.append("out, because their expression ids and lambda names differ between two\n")
    sb.append("runs of one commit. To compare the plans of two commits, regenerate\n")
    sb.append("this file at each and `git diff` it.\n\n")
    rows.foreach { case (n, Capture(t, _)) => sb.append(s"## $n\n\n```\n$t```\n\n") }
    sb.toString
  }

  /** Parse the checked-in table back to (name → Counts). */
  def parse(md: String): Seq[(String, Counts)] = {
    val RowRx = """\|\s*([a-z0-9_]+)\s*\|\s*(\d+)\s*\|\s*(\d+)\s*\|\s*(\d+)\s*\|\s*(\d+)\s*\|\s*(\d+)\s*\|""".r
    RowRx.findAllMatchIn(md).map { m =>
      m.group(1) -> Counts(m.group(2).toInt, m.group(3).toInt,
        m.group(4).toInt, m.group(5).toInt, m.group(6).toInt)
    }.toSeq
  }

  /** Parse the checked-in plans back to (name → tree). */
  def parsePlans(md: String): Seq[(String, String)] =
    """(?ms)^## ([a-z0-9_]+)\n\n```\n(.*?)```\n""".r.findAllMatchIn(md)
      .map(m => m.group(1) -> m.group(2)).toSeq

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // fixed 4 cores, the shape PlanBudgetSpec's session has: the plans
    // and the job column are deterministic only for a fixed session shape
    val spark = Harness.session(4)
    val rows = table(spark, dir)
    Files.writeString(Paths.get("PLAN_BUDGETS.md"), render(rows))
    Files.writeString(Paths.get("PLANS.md"), renderPlans(rows))
    println(s"wrote PLAN_BUDGETS.md and PLANS.md (${rows.size} queries)")
    spark.stop()
  }
}
