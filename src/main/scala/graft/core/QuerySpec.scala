package graft.core

/** Query-spec ADTs mirroring the reference's wire shapes
  * (reference: README.md:105,111; parqueryd/worker.py:390-397).
  *
  * The reference passes aggregations as `[[input, op, output], ...]` triplets
  * and filters as `[col, op, value]` triplets AND-combined. We model both as
  * case classes and translate to Catalyst `Column`s in [[Translator]] so the
  * whole pipeline stays declarative (pushdown + codegen for free).
  */
final case class AggSpec(input: String, op: String, output: String)

object AggSpec {
  /** Bare-column shorthand `['fare_amount']` → sum, same output name
    * (reference: README.md:105). */
  def apply(col: String): AggSpec = AggSpec(col, "sum", col)

  /** The keys of [[Translator.AggOps]]. */
  val SupportedOps: Set[String] = Translator.AggOps.keySet
}

/** One filter term; terms in a list are AND-combined
  * (reference: parqueryd/worker.py:394 pass-through; op set is the parquery
  * public API contract — see SURVEY.md §2.2). */
final case class FilterTerm(col: String, op: String, value: Any)

object FilterTerm {
  /** The keys of [[Translator.FilterOps]]. */
  val SupportedOps: Set[String] = Translator.FilterOps.keySet
}

/** How per-shard aggregates are combined.
  *
  *  - [[CombineMode.Merged]]: one global `groupBy` — Spark's partial/final
  *    HashAggregate completes the merge the reference leaves to its caller.
  *    Default, because it is what callers ultimately compute.
  *  - [[CombineMode.Concat]]: reproduce the reference byte-for-byte — per-shard
  *    aggregates concatenated, duplicate group keys across shards survive
  *    (reference: pa.concat_tables at parqueryd/controller.py:277-294).
  */
sealed trait CombineMode
object CombineMode {
  case object Merged extends CombineMode
  case object Concat extends CombineMode
}
