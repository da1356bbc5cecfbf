package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{aggregate, col, lit, sequence, sum}

/** The one way to iterate, in three shapes.
  *
  * A DataFrame plan that references its previous round re-embeds the
  * whole lineage per round (each join and each convergence test doubles
  * it: analyzer OOM by depth ~8), so every round's frame is
  * local-checkpointed — a flat LogicalRDD leaf for the next round:
  *
  *   - [[fixpoint]]: step until a convergence test over the newest
  *     frames holds or a round cap is hit; each frame is freed once a
  *     newer one has landed and the test no longer looks at it, and the
  *     result carries `rounds` and `converged`.
  *   - [[rounds]]: a fixed number of steps as a chain of LAZY
  *     checkpoints, materialized by the consumer's first action (under
  *     AQE each round's earlier stages run as it is built; see
  *     [[rounds]]).
  *
  * The third shape needs no checkpoint: [[fold]] unrolls a fixed number
  * of rounds inside one expression over an array collected into one
  * row — for state bounded by an alphabet, not by the corpus (the
  * event-type graph, a Markov chain's states).
  *
  * A fixpoint whose frames join copies of themselves also resets
  * Catalyst's size statistics at a caller-chosen cadence
  * ([[Caches.checkpointReset]] documents the hazard). The cadence is
  * part of the plan: a reset frame's default stats flip join
  * strategies, so each caller keeps the cadence its plans were
  * certified with.
  */
object Iterate {

  /** A fixpoint's last frame, the rounds run (the initial frame is
    * round 0) and whether the convergence test held.
    */
  final case class Fixpoint(frame: DataFrame, rounds: Int, converged: Boolean) {

    /** The frame, or the uniform non-convergence error — for callers
      * whose result is wrong, not just early, when the cap is hit.
      */
    def orThrow(what: String): DataFrame =
      if (converged) frame
      else throw new IllegalStateException(
        s"$what: no fixpoint after $rounds rounds (raise the round cap " +
          "beyond the input's diameter)")
  }

  /** Iterate `step` from `init` until `converged` holds or `maxRounds`
    * steps have run.
    *
    * `init` and every step's frame are local-checkpointed; `converged`
    * then sees the newest `window` frames, newest first (the initial
    * frame alone on round 0). With `eager = false` the checkpoint is
    * lazy and a scalar test over the new frame is the one action that
    * materializes it — one job per round. A test that holds on the
    * first unchanged round needs a confirming round after the last
    * change: a caller that promises k changing rounds passes
    * `maxRounds = k + 1`. Older frames are freed as they leave the
    * window; the returned frame is the caller's to free.
    *
    * @param resetEvery reset the stats of every frame whose round is a
    *   multiple of it, after the test has materialized the frame (0 =
    *   never). The initial frame's stats have not compounded yet, so it
    *   is reset only under `resetEvery = 1`, which resets every frame.
    */
  def fixpoint(init: DataFrame, maxRounds: Int, eager: Boolean = false,
               resetEvery: Int = 0, window: Int = 2)(step: DataFrame => DataFrame)(
               converged: List[DataFrame] => Boolean): Fixpoint = {
    def land(df: DataFrame, round: Int, kept: List[DataFrame]): (List[DataFrame], Boolean) = {
      val ck = df.localCheckpoint(eager)
      val done = converged(ck :: kept)
      val reset = resetEvery == 1 ||
        (resetEvery > 0 && round > 0 && round % resetEvery == 0)
      val frames = (if (reset) Caches.resetStats(ck) else ck) :: kept
      frames.drop(window - 1).foreach(Caches.free)
      (frames.take(window - 1), done)
    }
    var (frames, done) = land(init, 0, Nil)
    var rounds = 0
    while (rounds < maxRounds && !done) {
      rounds += 1
      val (next, d) = land(step(frames.head), rounds, frames)
      frames = next
      done = d
    }
    frames.tail.foreach(Caches.free)
    Fixpoint(frames.head, rounds, done)
  }

  /** A [[fixpoint]] test that holds once `witness` of the newest frame
    * equals its value on the frame before. It remembers the last value,
    * so each fixpoint needs its own.
    */
  def unchanged[W](witness: DataFrame => W): List[DataFrame] => Boolean = {
    var last: Option[W] = None
    frames => {
      val w = Some(witness(frames.head))
      val same = w == last
      last = w
      same
    }
  }

  /** Exact sum of a label column (0 over an empty frame): the witness
    * of min-label propagation, whose labels only decrease, so the sum
    * is unchanged iff no label changed.
    */
  def labelSum(label: String)(df: DataFrame): BigDecimal =
    Option(df.agg(sum(col(label).cast("decimal(38,0)"))).first.getDecimal(0))
      .map(BigDecimal(_)).getOrElse(BigDecimal(0))

  /** `n` steps from `init` as a chain of lazy local checkpoints: no
    * round reads a scalar, and each LogicalRDD keeps the next round's
    * plan flat. Building a lazy checkpoint is still not free: with
    * adaptive execution off it runs the round's broadcasts (a broadcast
    * join builds its relation when its RDD is built), and under AQE
    * (the runtime default) every non-final shuffle and broadcast stage
    * of the round's plan. A 3-round groupBy + broadcast-join chain
    * launched 6 jobs at construction under AQE against 3 with it off,
    * and graph_labelprop 16 at construction and 6 in its action against
    * 0 and 2 (seed-1 benchmark tables). Only the final stage waits for
    * the consumer's action. `step`
    * sees the frames so far, newest first, and the round number
    * (1..n). Returns every frame, newest first. The frames are the
    * consumer's to free, and only after its action has run: freeing a
    * lazy checkpoint before it materializes breaks it.
    */
  def rounds(init: DataFrame, n: Int)(step: (List[DataFrame], Int) => DataFrame): List[DataFrame] =
    (1 to n).foldLeft(List(init.localCheckpoint(false))) { (frames, r) =>
      step(frames, r).localCheckpoint(false) :: frames
    }

  /** `n` rounds of `step` from `init` as one expression:
    * `aggregate(sequence(1, n), init, (acc, _) => step(acc))`. The plan
    * stays one linear projection at any round count, so it runs no job
    * at construction and needs no checkpoint; the rounds run per row, so
    * the state must be small (an alphabet-bounded array). `step` must
    * return `init`'s type; a step that can produce nulls needs an `init`
    * whose type already admits them.
    */
  def fold(n: Int, init: Column)(step: Column => Column): Column =
    aggregate(sequence(lit(1), lit(n)), init, (acc, _) => step(acc))
}
