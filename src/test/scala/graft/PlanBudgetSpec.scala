package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The plan drift gate (r5 VERDICT #7): every registered query's static
  * plan must match the checked-in artifacts — its shuffle / broadcast /
  * sort / cartesian / jobs counts the `PLAN_BUDGETS.md` row, and its
  * operator tree the `PLANS.md` section. Both checks read one hermetic
  * capture per query, the one the generator takes. An edit that sneaks
  * an extra Exchange into any query, or otherwise reshapes its plan,
  * fails here with the query's name and the diff; an intentional plan
  * change regenerates both files
  * (`sbt "runMain graft.PlanBudget /root/testdata/sf0.001"`) so the diff
  * lands in review, not in a 100 TB run.
  */
class PlanBudgetSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private val budgetFile = Paths.get("PLAN_BUDGETS.md")
  private val plansFile = Paths.get("PLANS.md")
  private val regenerate = s"`sbt \"runMain graft.PlanBudget $dir\"`"

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private lazy val pinned: Map[String, PlanBudget.Counts] =
    PlanBudget.parse(read(budgetFile)).toMap

  private lazy val pinnedTrees: Seq[(String, String)] = PlanBudget.parsePlans(read(plansFile))

  /** One hermetic capture per registered query, shared by the counts and
    * the tree check: the same clearCache-before-capture discipline as the
    * generator, so the pins hold regardless of suite order.
    */
  private lazy val captured: Seq[(String, PlanBudget.Capture)] = {
    val spark = SparkSpec.session
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      spark.catalog.clearCache()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"cache manager not empty before capturing $name")
      name -> PlanBudget.capture(spark, fn, dir)
    }
  }

  /** Each query whose tree departs from its pinned one, named with the
    * first differing line.
    */
  private def treeDrift(want: Map[String, String], got: Seq[(String, String)]): Seq[String] =
    got.flatMap { case (name, tree) =>
      want.get(name).flatMap { w =>
        val (a, b) = (w.split("\n", -1), tree.split("\n", -1))
        (0 until math.max(a.length, b.length)).find(i => a.lift(i) != b.lift(i)).map { i =>
          s"$name, line ${i + 1}: pinned `${a.lift(i).getOrElse("<end>")}` " +
            s"got `${b.lift(i).getOrElse("<end>")}`"
        }
      }
    }

  test("PLAN_BUDGETS.md covers exactly the current registry") {
    assume(Files.exists(budgetFile), "PLAN_BUDGETS.md not generated yet")
    val missing = SparkEntry.queries.keySet -- pinned.keySet
    val stale = pinned.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty && stale.isEmpty,
      s"budget table out of date — regenerate with PlanBudget. " +
        s"missing: ${missing.toSeq.sorted.mkString(",")} " +
        s"stale: ${stale.toSeq.sorted.mkString(",")}")
  }

  test("PLANS.md holds one section per registered query, in name order") {
    assume(Files.exists(plansFile), "PLANS.md not generated yet")
    val names = pinnedTrees.map(_._1)
    val registry = SparkEntry.queries.keySet
    assert(names == registry.toSeq.sorted,
      s"PLANS.md out of date — regenerate with $regenerate. " +
        s"missing: ${(registry -- names).toSeq.sorted.mkString(",")} " +
        s"stale: ${(names.toSet -- registry).toSeq.sorted.mkString(",")} " +
        s"repeated: ${names.diff(names.distinct).mkString(",")}")
  }

  test("a one-line edit of a pinned tree is reported with its query and line") {
    assume(Files.exists(plansFile), "PLANS.md not generated yet")
    val trees = pinnedTrees
    val (name, tree) = trees(trees.size / 2)
    val lines = tree.split("\n", -1)
    val edited = (lines.take(2) :+ (lines(2) + " (edited)")) ++ lines.drop(3)
    val drift = treeDrift(trees.toMap, trees.map { case (n, t) =>
      n -> (if (n == name) edited.mkString("\n") else t) })
    assert(drift == Seq(s"$name, line 3: pinned `${lines(2)}` got `${lines(2)} (edited)`"))
  }

  test("every query's static plan matches its pinned shuffle/broadcast/sort/cartesian/jobs budget") {
    assume(Files.exists(budgetFile) && Files.isDirectory(Paths.get(dir)))
    val drifted = captured.flatMap { case (name, PlanBudget.Capture(_, got)) =>
      pinned.get(name).filter(_ != got).map { want =>
        s"$name: pinned(sh=${want.shuffles},bc=${want.broadcasts}," +
          s"so=${want.sorts},cp=${want.cartesians},jobs=${want.jobs}) got(sh=${got.shuffles}," +
          s"bc=${got.broadcasts},so=${got.sorts},cp=${got.cartesians},jobs=${got.jobs})"
      }
    }
    assert(drifted.isEmpty,
      s"${drifted.size} plan budgets drifted — if intentional, regenerate " +
        s"PLAN_BUDGETS.md and PLANS.md via $regenerate:\n" +
        drifted.mkString("\n"))
  }

  test("every query's operator tree matches its PLANS.md section") {
    assume(Files.exists(plansFile) && Files.isDirectory(Paths.get(dir)))
    val drifted = treeDrift(pinnedTrees.toMap, captured.map { case (n, c) => n -> c.tree })
    assert(drifted.isEmpty,
      s"${drifted.size} operator trees drifted — if intentional, regenerate " +
        s"PLAN_BUDGETS.md and PLANS.md via $regenerate:\n" +
        drifted.mkString("\n"))
  }
}
