package graft.core

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

  private def toLit(v: Any): Column = lit(v)

  private def term(t: FilterTerm): Column = {
    val c = col(t.col)
    t.op match {
      case "==" | "=" => c === toLit(t.value)
      case "!="       => c =!= toLit(t.value)
      case ">"        => c > toLit(t.value)
      case ">="       => c >= toLit(t.value)
      case "<"        => c < toLit(t.value)
      case "<="       => c <= toLit(t.value)
      case "in"       => c.isin(seqOf(t.value): _*)
      case "not in"   => !c.isin(seqOf(t.value): _*)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported filter op '$other' (supported: ${FilterTerm.SupportedOps.mkString(", ")})")
    }
  }

  private def seqOf(v: Any): Seq[Any] = v match {
    case s: Seq[_]      => s
    case i: Iterable[_] => i.toSeq
    case a: Array[_]    => a.toSeq
    case other          => Seq(other)
  }

  /** One agg triplet → aliased aggregate Column.
    * sum/mean/count are the reference-verified ops
    * (tests/test_simple_rpc.py:118-126); the rest are the inferred parquery
    * public set, defined here against a DuckDB oracle (SURVEY.md §2.4).
    */
  def aggColumn(spec: AggSpec): Column = {
    val c = col(spec.input)
    val agg = spec.op match {
      case "sum"                   => sum(c)
      case "mean" | "avg"          => avg(c)
      case "count"                 => count(c)
      case "min"                   => min(c)
      case "max"                   => max(c)
      case "std" | "stddev"        => stddev_samp(c)
      case "count_na"              => count(when(c.isNull, lit(1)))
      case "count_distinct"        => countDistinct(c)
      // Exact distinct over a sorted-run optimization in the reference's
      // kernel; semantically identical to count_distinct here.
      case "sorted_count_distinct" => countDistinct(c)
      // Scalable variant (HLL sketch) — extension for the 100 TB path.
      case "approx_count_distinct" => approx_count_distinct(c)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported agg op '$other' (supported: ${AggSpec.SupportedOps.mkString(", ")})")
    }
    agg.as(spec.output)
  }

  def aggColumns(specs: Seq[AggSpec]): Seq[Column] = specs.map(aggColumn)
}
