package graft.core

import scala.collection.immutable.SeqMap
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Spec → Catalyst translation. Everything here produces plain `Column`
  * expressions, so Catalyst handles pushdown, pruning, and codegen — no
  * custom planner work is needed for reference parity (SURVEY.md §4).
  * Filter values stay `lit(v)`; [[graft.BindFilterValues]] binds them
  * as parameters in the generated code after optimization.
  */
object Translator {

  /** Fold AND-combined filter triplets into one `Column`.
    * Returns None for an empty term list (= no filter, reference passes `[]`).
    */
  def filterColumn(terms: Seq[FilterTerm]): Option[Column] =
    terms.map(term).reduceOption(_ && _)

  /** The filter ops, and the one list of them ([[FilterTerm.SupportedOps]]
    * is its key set): each op → the term it makes of a column and a value.
    * The op set is the parquery public API contract (SURVEY.md §2.2). */
  val FilterOps: SeqMap[String, (Column, Any) => Column] = SeqMap(
    ("==", (c, v) => c === lit(v)),
    ("=", (c, v) => c === lit(v)),
    ("!=", (c, v) => c =!= lit(v)),
    (">", (c, v) => c > lit(v)),
    (">=", (c, v) => c >= lit(v)),
    ("<", (c, v) => c < lit(v)),
    ("<=", (c, v) => c <= lit(v)),
    ("in", (c, v) => c.isin(seqOf(v): _*)),
    ("not in", (c, v) => !c.isin(seqOf(v): _*)))

  private def term(t: FilterTerm): Column =
    FilterOps.getOrElse(t.op, throw new IllegalArgumentException(
      s"unsupported filter op '${t.op}' (supported: ${FilterOps.keys.mkString(", ")})"))(
      col(t.col), t.value)

  private def seqOf(v: Any): Seq[Any] = v match {
    case s: Seq[_]      => s
    case i: Iterable[_] => i.toSeq
    case a: Array[_]    => a.toSeq
    case other          => Seq(other)
  }

  /** The aggregate ops, and the one list of them ([[AggSpec.SupportedOps]]
    * is its key set): each op → its aggregate of the input column.
    * sum/mean/count are the reference-verified ops
    * (tests/test_simple_rpc.py:118-126); the rest are the inferred parquery
    * public set, defined here against a DuckDB oracle (SURVEY.md §2.4).
    */
  val AggOps: SeqMap[String, Column => Column] = SeqMap(
    ("sum", sum(_)),
    ("mean", avg(_)),
    ("avg", avg(_)),
    ("count", count(_)),
    ("min", min(_)),
    ("max", max(_)),
    ("std", stddev_samp(_)),
    ("stddev", stddev_samp(_)),
    ("count_na", c => count(when(c.isNull, lit(1)))),
    ("count_distinct", countDistinct(_)),
    // Exact distinct over a sorted-run optimization in the reference's
    // kernel; semantically identical to count_distinct here.
    ("sorted_count_distinct", countDistinct(_)),
    // Scalable variant (HLL sketch) — extension for the 100 TB path.
    ("approx_count_distinct", approx_count_distinct(_)))

  /** One agg triplet → aliased aggregate Column. */
  def aggColumn(spec: AggSpec): Column =
    AggOps.getOrElse(spec.op, throw new IllegalArgumentException(
      s"unsupported agg op '${spec.op}' (supported: ${AggOps.keys.mkString(", ")})"))(
      col(spec.input)).as(spec.output)

  def aggColumns(specs: Seq[AggSpec]): Seq[Column] = specs.map(aggColumn)
}
