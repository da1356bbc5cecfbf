package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Run-to-convergence variants of the fixed-iteration graph operators
  * (r5 VERDICT #2). The REGISTERED queries keep their compile-time
  * round counts — each is oracle-certified exactly as implemented,
  * because the DuckDB replay unrolls the same truncation. These
  * variants exist for the 100× regime where graph diameter and mixing
  * grow past the constants: the same per-round plans (one keyed join +
  * aggregate on the edge set) driven by [[graft.Iterate.fixpoint]] with
  * eager per-round checkpoints, an explicit convergence test and a
  * hard cap — and the truncation made VISIBLE: every result carries
  * `rounds_run` and `converged` columns instead of silently reporting a
  * half-mixed state. The per-round convergence witness is always one
  * cheap aggregate (a count or a max-delta), never a plan-vs-plan diff.
  *
  * Specs pin the early-exit contract: stopping at the fixpoint yields
  * exactly the unrolled fixed-round result whenever the fixed count
  * already reached the fixpoint on the driver corpus, and a capped run
  * equals the same loop unrolled `cap` times.
  */
object GraphConvergence {

  /** Synchronous min-tiebreak label propagation to fixpoint: the exact
    * update rule of the certified graph_labelprop (one label-count
    * aggregate + one max(struct) argmax per round), run until no node's
    * label changes, a period-2 limit cycle is detected, or `maxRounds`.
    * Synchronous labelprop is NOT monotone — majority vote genuinely
    * 2-cycles on bipartite-ish structure (it DOES on the sf0.01
    * co-supply graph, which is why the cycle check exists and is
    * spec-pinned), so the loop also diffs against the state two rounds
    * back and stops on `status = "cycle"` with one phase of the cycle
    * as the (deterministic) answer. `status` is "converged", "cycle",
    * or "capped" — never a silent truncation.
    */
  def labelpropConverged(s: SparkSession, dir: String,
                         maxRounds: Int = 20): DataFrame = {
    val edges = Relational.graphBuild(s, dir)
    val e2 = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(true)
    def diff(a: DataFrame, b: DataFrame): Long =
      a.as("a").join(b.as("b"), col("a.node") === col("b.node"))
        .filter(col("a.lbl") =!= col("b.lbl")).count()
    var status = "capped"
    // window 3: the cycle test compares with the state two rounds back
    val fp = graft.Iterate.fixpoint(
        e2.select(col("src").as("node")).distinct().withColumn("lbl", col("node")),
        maxRounds, eager = true, window = 3)(labelpropRound(e2, _)) {
      case next :: lbl :: older =>
        if (diff(lbl, next) == 0L) status = "converged"
        else if (older.nonEmpty && diff(older.head, next) == 0L) status = "cycle"
        status != "capped"
      case _ => false
    }
    val lbl = fp.frame
    val sizes = lbl.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
    val out = lbl.join(sizes, "lbl")
      .select(col("node"), col("lbl").as("community"), col("community_size"),
        lit(fp.rounds).as("rounds_run"), lit(status).as("status"))
      .orderBy(col("node"))
      .localCheckpoint(true)
    graft.Caches.free(e2)
    graft.Caches.free(lbl)
    out
  }

  /** One synchronous labelprop round — shared with the spec so the
    * fixpoint claim is testable against the literal update rule.
    */
  private[queries] def labelpropRound(e2: DataFrame, lbl: DataFrame): DataFrame =
    e2.join(lbl.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst").as("node"), col("lbl")).agg(count(lit(1)).as("c"))
      .groupBy(col("node"))
      .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("best"))
      .select(col("node"), (-col("best.nl")).as("lbl"))

  /** k-core peel to fixpoint: drop nodes whose in-subgraph degree is
    * < k until a round removes nothing or `maxRounds`. The alive set
    * only shrinks and each round's survivors are a subset of the
    * previous round's, so a stable COUNT is a stable SET — the witness
    * is the count the loop already materializes.
    */
  def kcoreConverged(s: SparkSession, dir: String, k: Int = 2,
                     maxRounds: Int = 20): DataFrame = {
    val edges = Relational.graphBuild(s, dir)
    val sym = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    val fp = graft.Iterate.fixpoint(sym.select(col("src").as("node")).distinct(),
        maxRounds, eager = true) { alive =>
      sym
        .join(alive.select(col("node").as("src")), "src")
        .join(alive.select(col("node").as("dst")), "dst")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("node"), col("deg"))
    }(graft.Iterate.unchanged(_.count()))
    fp.frame
      .withColumn("rounds_run", lit(fp.rounds))
      .withColumn("converged", lit(fp.converged))
      .orderBy(col("node"))
  }

  /** Scaled-integer PageRank (the exact arithmetic of the certified
    * graph_pagerank: ranks ×10⁶, damping as (85·x)//100) iterated until
    * the max per-node rank change is ≤ `tolUnits` scaled units (1 unit
    * = 1e-6 rank mass) or `maxIters`. Integer Jacobi can limit-cycle
    * with amplitude a few units (floor rounding), so tolUnits=0 demands
    * the exact fixpoint while the default 1 accepts the cycle — either
    * way `final_delta_units` reports the truncation error explicitly.
    */
  def pagerankConverged(edges: DataFrame, maxIters: Int = 50,
                        tolUnits: Long = 1L): DataFrame = {
    val e = edges.localCheckpoint(true)
    val wout = e.groupBy(col("src")).agg(sum(col("w")).as("wt"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var delta = Long.MaxValue
    val fp = graft.Iterate.fixpoint(nodes.withColumn("r", lit(1000000L)),
        maxIters, eager = true)(Relational.pagerankRound(e, wout, nodes)) {
      case next :: ranks :: _ =>
        delta = next.as("b").join(ranks.as("a"), col("a.node") === col("b.node"))
          .agg(max(abs(col("b.r") - col("a.r")))).first().getLong(0)
        delta <= tolUnits
      case _ => false
    }
    val out = fp.frame
      .withColumn("rounds_run", lit(fp.rounds))
      .withColumn("converged", lit(fp.converged))
      .withColumn("final_delta_units", lit(delta))
      .orderBy(col("node"))
      .localCheckpoint(true)
    graft.Caches.free(e)
    graft.Caches.free(fp.frame)
    out
  }

  /** SCC by reachability doubling to closure: square the reach relation
    * until the pair count stops growing (closure only grows, so a
    * stable count is the transitive closure) or `maxRounds` — rounds
    * needed is O(log diameter), the reason the certified graph_scc's 3
    * rounds cover path length 8. Emits the same (node, scc_id) plus the
    * convergence witness.
    */
  def sccConverged(s: SparkSession, dir: String,
                   maxRounds: Int = 10): DataFrame = {
    val edges = EventGraph.edges(s, dir).select(col("src").as("a"), col("dst").as("b"))
    val fp = graft.Iterate.fixpoint(edges, maxRounds, eager = true) { clo =>
      clo.union(
          clo.as("x").join(clo.as("y"), col("x.b") === col("y.a"))
            .select(col("x.a").as("a"), col("y.b").as("b")))
        .distinct()
    }(graft.Iterate.unchanged(_.count()))
    val clo = fp.frame
    // the closure keeps every edge, so its endpoints are the graph's nodes
    val nodes = clo.select(col("a").as("node"))
      .union(clo.select(col("b").as("node"))).distinct()
    val both = clo.as("f")
      .join(clo.as("r"), col("f.a") === col("r.b") && col("f.b") === col("r.a"))
      .select(col("f.a").as("v"), col("f.b").as("w"))
      .union(nodes.select(col("node").as("v"), col("node").as("w")))
    val out = both.groupBy(col("v").as("node")).agg(min(col("w")).as("scc_id"))
      .withColumn("rounds_run", lit(fp.rounds))
      .withColumn("converged", lit(fp.converged))
      .orderBy(col("node"))
      .localCheckpoint(true)
    graft.Caches.free(clo)
    out
  }
}
