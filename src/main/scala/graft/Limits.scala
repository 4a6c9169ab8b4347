package graft

import scala.util.DynamicVariable

/** The size ceilings at which an operator switches formulation. Every
  * gate reads the active value on the driver while it builds its plan,
  * never inside a task closure, so a built DataFrame keeps the branch it
  * was planned with.
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

  /** One value per ceiling; the defaults are the shipped ceilings. */
  final case class Ceilings(
      corpusBroadcast: Long = CORPUS_BROADCAST_MAX,
      embedPairExact: Long = EMBED_PAIR_EXACT_MAX,
      catalogBroadcast: Long = CATALOG_BROADCAST_MAX)

  private val active = new DynamicVariable(Ceilings())

  def corpusBroadcast: Long = active.value.corpusBroadcast
  def embedPairExact: Long = active.value.embedPairExact
  def catalogBroadcast: Long = active.value.catalogBroadcast

  /** Run `body` with `c` as the active ceilings. */
  def forcing[T](c: Ceilings)(body: => T): T = active.withValue(c)(body)
}
