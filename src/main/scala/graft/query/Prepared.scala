package graft.query

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression,
  NamedExpression, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, ReturnAnswer, Statistics}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.DataType

import graft.{Caches, SessionMemo}

/** Prepared query-plane ops: the analogue of myDIG compiling a query
  * against an index that is already built (PAPER.md §0).
  *
  * Since the generated code of an op depends on its kind only
  * ([[QueryCompiler]]), two calls of one kind over the same index build
  * plans that differ only in their values. Analyzing each intermediate
  * `Dataset` and optimizing the result was most of an op's driver time.
  * So an op whose inputs are the session's indexes — the memoized KG
  * ([[Postings.isIndex]]) and the postings index ([[Postings.lookup]]) —
  * is built once per key by its usual DataFrame code, over [[Slot]]s
  * where its values go, and that template is analyzed and optimized once
  * and kept. The key is the op kind, the index frames by identity, the
  * literals the plan keeps (limit, facet k, k1/b/μ, head length, column
  * names), the values' types and the session's SQL conf (the broadcast
  * threshold of [[QueryCompiler.small]] among it).
  *
  * Each call binds its values into a copy of the template: every slot
  * becomes, 1:1, the expression the op's code builds (an `InSet`, a
  * [[graft.plans.NativeExpressions.QueryValue]], a literal), so the
  * generated code is the fresh plan's. The call's `Dataset` reads a
  * [[Bound]] leaf over that tree, with fresh output attributes; the
  * optimizer does not enter it, and [[Planning]] plans it in its place.
  * Physical planning, EnsureRequirements, codegen, AQE and execution run
  * afresh on every call, so no executed or stateful physical plan is
  * ever shared. AQE's logical re-optimization sees only the leaf, so it
  * cannot rewrite the bound tree between stages; the index ops have no
  * joins for it to switch.
  *
  * A template reads exactly its key's index frames, and is served only
  * while their blocks live ([[Caches.alive]]); one that does not is
  * rebuilt, and dead ones are dropped when another is stored. An input
  * with no index identity (an in-memory, filtered or rewritten frame) is
  * planned afresh, as is every op of a kind not prepared here.
  */
object Prepared {

  /** Value `id` of an op in its template: opaque, deterministic and not
    * foldable, so the optimizer can neither evaluate it nor specialize on
    * a value (an empty set, say). It keeps the value expression's
    * children (the column an `InSet` tests), so the optimizer prunes and
    * pushes them as it would the value's. `leafNullable` is the value's
    * own nullability; a value with children is as nullable as they are,
    * as an `InSet` is.
    */
  final case class Slot(id: Int, children: Seq[Expression], dataType: DataType, leafNullable: Boolean)
      extends Expression with Unevaluable {
    override def nullable: Boolean = leafNullable || children.exists(_.nullable)
    override def toString: String = s"slot$id${children.mkString("(", ", ", ")")}"
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Slot = copy(children = c)
  }

  /** The leaf a prepared op's `Dataset` reads: the op's bound, optimized
    * plan. It reports that plan's statistics, and [[unfold]] shows its
    * files and checkpoints, so the small-input rule, `Tables.filesRead`
    * and [[Caches.alive]] see through it.
    */
  final case class Bound(plan: LogicalPlan) extends LeafNode with MultiInstanceRelation {
    override def output: Seq[Attribute] = plan.output
    override def computeStats(): Statistics = plan.stats
    override def maxRows: Option[Long] = plan.maxRows
    override def innerChildren: Seq[LogicalPlan] = Seq(plan)
    override def simpleString(maxFields: Int): String = s"Bound ${output.mkString("[", ", ", "]")}"
    override def newInstance(): Bound = Bound(renamed(plan))
  }

  /** Plans a [[Bound]] leaf by planning its tree in its place. */
  private object Planning extends SparkStrategy {
    override def apply(p: LogicalPlan): Seq[SparkPlan] = p match {
      case ReturnAnswer(b: Bound) => planLater(ReturnAnswer(b.plan)) :: Nil
      case b: Bound => planLater(b.plan) :: Nil
      case _ => Nil
    }
  }

  /** `plan` with each [[Bound]] leaf replaced by the tree it reads. */
  def unfold(plan: LogicalPlan): LogicalPlan = plan.transform { case b: Bound => b.plan }

  /** One call of an op kind: the index frames it reads (`None` for an
    * input with no index identity), the literals its plan keeps, its
    * values as the expressions its code builds, and that code, which
    * builds the op's plan from one column per value.
    */
  final case class Op(kind: String, sources: Option[Seq[DataFrame]], literals: Seq[Any],
      values: IndexedSeq[Column], build: IndexedSeq[Column] => DataFrame) {
    /** The op's plan, built afresh from its values. */
    def fresh: DataFrame = build(values)
  }

  /** A frame compared by identity. */
  private final class Same(val df: DataFrame) {
    override def equals(o: Any): Boolean = o match {
      case s: Same => s.df eq df
      case _ => false
    }
    override def hashCode: Int = System.identityHashCode(df)
  }

  private final case class Key(kind: String, sources: Seq[Same], literals: Seq[Any],
      types: Seq[DataType], conf: Map[String, String])

  private val templates = new SessionMemo[Key, LogicalPlan]

  /** Templates built so far, over every session. */
  private val built = new java.util.concurrent.atomic.AtomicLong

  private[query] def builds: Long = built.get

  /** The session's live templates. */
  private[query] def templateCount(s: SparkSession): Int = templates.of(s).size

  /** `op`'s plan: its template with its values bound, or, for an input
    * with no index identity, its fresh plan.
    */
  def apply(op: Op): DataFrame = op.sources.flatMap { sources =>
    val s = sources.head.sparkSession
    val values = op.values.map(GraftColumnBridge.expression(s, _))
    val key = Key(op.kind, sources.map(new Same(_)), op.literals, values.map(_.dataType),
      s.sessionState.conf.getAllConfs)
    templates.get(s, key).filter(Caches.alive(s, _)).orElse(prepare(s, key, op, values, sources))
      .map { t =>
        install(s)
        val bound = t.transformAllExpressions { case v: Slot => values(v.id).withNewChildren(v.children) }
        GraftColumnBridge.ofRows(s, Bound(renamed(bound)))
      }
  }.getOrElse(op.fresh)

  /** Builds, optimizes and stores `op`'s template under `key`; `None`
    * when the optimized plan reads anything but the key's index frames,
    * whose checkpoints must still be alive.
    */
  private def prepare(s: SparkSession, key: Key, op: Op, values: IndexedSeq[Expression],
      sources: Seq[DataFrame]): Option[LogicalPlan] = {
    val slots = values.zipWithIndex.map { case (v, i) =>
      GraftColumnBridge.column(Slot(i, v.children, v.dataType, v.children.isEmpty && v.nullable))
    }
    val plan = op.build(slots).queryExecution.optimizedPlan
    built.incrementAndGet()
    val reads = plan.collectLeaves().map {
      case l: LogicalRDD => Some(l.rdd.id)
      case _ => None
    }
    val indexes = sources.flatMap(_.queryExecution.analyzed.collectLeaves()).collect {
      case l: LogicalRDD => Some(l.rdd.id)
    }
    if (reads.toSet != indexes.toSet || !Caches.alive(s, plan)) None
    else {
      templates.retain(s)((_, t) => Caches.alive(s, t))
      templates.put(s, key, plan)
      Some(plan)
    }
  }

  /** Installs [[Planning]] on the session, once. */
  private def install(s: SparkSession): Unit = s.experimental.synchronized {
    if (!s.experimental.extraStrategies.contains(Planning))
      s.experimental.extraStrategies = s.experimental.extraStrategies :+ Planning
  }

  /** `plan` with fresh ids for its output attributes, wherever they are
    * defined or read: two calls of one template are two relations.
    */
  private def renamed(plan: LogicalPlan): LogicalPlan = {
    val fresh = plan.output.map(a => a.exprId -> NamedExpression.newExprId).toMap
    plan.transformAllExpressions {
      case a: AttributeReference if fresh.contains(a.exprId) => a.withExprId(fresh(a.exprId))
      case a: Alias if fresh.contains(a.exprId) =>
        Alias(a.child, a.name)(fresh(a.exprId), a.qualifier, a.explicitMetadata, a.nonInheritableMetadataKeys)
    }
  }
}
