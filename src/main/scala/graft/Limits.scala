package graft

import scala.util.DynamicVariable

/** The ceilings (four sizes and one share) at which an operator
  * switches formulation. Every gate reads the active value on the
  * driver while it builds its plan, never inside a task closure, so a
  * built DataFrame keeps the branch it was planned with.
  *
  * [[forcing]] replaces the ceilings inside one block and restores them
  * on exit (also on a throw). It is a test hook: specs use it to reach
  * the past-ceiling branches at fixture size. No registered query, main
  * or harness calls it, and no env var or conf key sets the ceilings.
  */
object Limits {

  /** Vector count above which the collected corpus (~(d+1)·8 bytes per
    * vector — ~5 GB at 10⁷ × 64 dims) is refused as an executor
    * broadcast and pair-cosine callers switch to the distributed
    * [[graft.ext.VectorOps.cosine]] join formulation automatically.
    */
  val CORPUS_BROADCAST_MAX: Long = 10000000L

  /** Vector-count ceiling for EXACT all-pairs near-dup inside
    * [[graft.ext.SimilarityQueries.embedNearDupAuto]]: the O(n²d) pair
    * scan is the r7-documented exactness anchor, but past ~10⁵ vectors
    * the quadratic is the whole runtime (333s of q_dedup_embed_cluster's
    * 100× probe), so the cluster assembly switches to LSH-banded
    * candidates + exact verify — the same count-driven dial rule as
    * q_sim_lsh/q_sim_ivf (the exact form stays the oracle-gated anchor
    * at sf0.01-0.1).
    */
  val EMBED_PAIR_EXACT_MAX: Long = 100000L

  /** Catalog size above which the executor-broadcast formulation is
    * refused: past ~2×10⁷ items the collected array risks driver OOM and
    * the broadcast stops paying for itself — the scalable sampler
    * switches to the distributed join formulation
    * ([[graft.etl.Splits.negativeSampleScalable]]).
    */
  val CATALOG_BROADCAST_MAX: Long = 20000000L

  /** Eval-set size (shingle count, or its estimate) above which the
    * decontamination joins (q_decontaminate, q_decontaminate_bloom) stop
    * broadcasting the eval side and shuffle-join instead (~8 B/key ×
    * 2×10⁷ ≈ 160 MB, the same ceiling class as [[CATALOG_BROADCAST_MAX]];
    * a real benchmark suite is far below it, the demo's 10%-of-corpus
    * predicate is not guaranteed to be).
    */
  val EVAL_BROADCAST_MAX: Long = 20000000L

  /** A user key holding more than this share of the orders fact makes
    * the interaction log's one-exchange shape a skew bomb (its whole RAW
    * row mass lands on one reduce task before any dedup); 2% ≈ 0.6× a
    * 32-way fair share and 20× a 1000-way one — past it
    * [[graft.etl.Interactions.apply]] takes the spread shape, whose
    * map-side partial dedup + (u, i, d) exchange is worth its extra
    * window exchange. Measured A/B at 100× (q_leave_two_out cold):
    * uniform axis one-exchange 24.5s vs spread 52.8s; zipf axis (hot
    * user = 20%) one-exchange 237.7s vs spread 106.1s — no single static
    * shape wins both, so the shape is a count-derived dial like the
    * broadcast dials above.
    */
  val HOT_USER_SHARE_MAX: Double = 0.02

  /** One value per ceiling; the defaults are the shipped ceilings. */
  final case class Ceilings(
      corpusBroadcast: Long = CORPUS_BROADCAST_MAX,
      embedPairExact: Long = EMBED_PAIR_EXACT_MAX,
      catalogBroadcast: Long = CATALOG_BROADCAST_MAX,
      evalBroadcast: Long = EVAL_BROADCAST_MAX,
      hotUserShare: Double = HOT_USER_SHARE_MAX)

  private val active = new DynamicVariable(Ceilings())

  def corpusBroadcast: Long = active.value.corpusBroadcast
  def embedPairExact: Long = active.value.embedPairExact
  def catalogBroadcast: Long = active.value.catalogBroadcast
  def evalBroadcast: Long = active.value.evalBroadcast
  def hotUserShare: Double = active.value.hotUserShare

  /** Run `body` with `c` as the active ceilings. */
  def forcing[T](c: Ceilings)(body: => T): T = active.withValue(c)(body)
}
