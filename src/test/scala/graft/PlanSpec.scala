package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the scale properties the engine claims
  * (broadcast stars, pushed filters, heap-based top-k, zero-shuffle
  * row-wise sketches) asserted against the OPTIMIZED physical plan, so a
  * refactor that silently degrades a plan fails a test instead of a bench.
  * Data correctness is the oracle gate's job; this spec is about HOW the
  * queries run. */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("star joins broadcast their dimension sides (q13, q88)") {
    val p13 = plan("q13_join_broadcast")
    assert(p13.contains("BroadcastHashJoin"))
    assert(!p13.contains("SortMergeJoin"), s"dims must broadcast:\n$p13")
    val p88 = plan("q88_tpch_q19")
    assert(p88.contains("BroadcastHashJoin") && !p88.contains("SortMergeJoin"))
  }

  test("TPC-H breadth keeps scale shapes: semi join broadcast (q102), " +
    "single window shuffle (q108), heap top-k (q109)") {
    // Q8: the region-membership filter must run as a broadcast semi join —
    // customers are a filter here, never a payload-carrying join side
    val p102 = plan("q102_tpch_q8")
    assert(p102.contains("LeftSemi"), s"region filter must be a semi join:\n$p102")
    assert(p102.contains("BroadcastHashJoin") && !p102.contains("SortMergeJoin"),
      s"Q8 dims must broadcast:\n$p102")
    // Q17: the 0.2·avg correlated threshold is ONE window over the
    // part-filtered scan — a self-join formulation would double the scan
    // and add a shuffle
    val p108 = plan("q108_tpch_q17")
    assert(p108.contains("Window"), p108)
    assert(shuffles(p108) <= 2,
      s"Q17 must not re-shuffle beyond window + final agg:\n$p108")
    // Q18: top-100-by-value is a heap, not a global sort
    val p109 = plan("q109_tpch_q18")
    assert(p109.contains("TakeOrderedAndProject"), p109)
  }

  /** Shuffle exchanges only — BroadcastExchange is not a repartition. */
  private def shuffles(plan: String): Int =
    "(?m)(?<!Broadcast)Exchange (hash|range|Single)".r.findAllIn(plan).length

  test("r14 assembly plans keep their scale shapes: knn top-k pushdown " +
    "and no unbounded join (q268), map-side partial candidate buffers " +
    "(q270), broadcast-only joins (q271), broadcast plan table (q272)") {
    val p268 = plan("q268_semantic_pack")
    assert(p268.contains("WindowGroupLimit"),
      s"the knn rank must push its k limit below the exchange:\n$p268")
    assert(!p268.contains("CartesianProduct") &&
      !p268.contains("BroadcastNestedLoopJoin"),
      s"no unbounded join may hide in the walk pipeline:\n$p268")
    val p270 = plan("q270_best_of_n")
    assert(p270.contains("partial_collect_list"),
      s"the bounded candidate buffer must partial-aggregate map-side:\n$p270")
    val p271 = plan("q271_topic_mix")
    assert(!p271.contains("SortMergeJoin"),
      s"topic-mix joins are dim-sized and must broadcast:\n$p271")
    val p272 = plan("q272_epoch_expansion")
    assert(p272.contains("BroadcastHashJoin"),
      s"the per-group plan table must broadcast back:\n$p272")
  }

  test("r15 additions keep their scale shapes: ONE window operator + " +
    "bounded straddle explode (q276), no unbounded join in the release " +
    "merge (q277), no unbounded join in the drift diff (q278), no " +
    "cartesian in the capacity sweep (q279)") {
    // q276: packOrdered's bin and the mask cumsum share one Window spec —
    // Catalyst must collapse them into a single Window operator
    val p276 = plan("q276_sft_pack_mask")
    assert("(?m)^\\s*[+:*-]*\\s*Window ".r.findAllIn(p276).length <= 1,
      s"the bin + cumsum windows must collapse into ONE operator:\n$p276")
    assert(p276.contains("Generate explode"),
      s"the straddle explode must be a Generate, not a join:\n$p276")
    val p277 = plan("q277_release_merge")
    assert(!p277.contains("CartesianProduct") &&
      !p277.contains("BroadcastNestedLoopJoin"),
      s"banding bounds the candidate join — no unbounded join:\n$p277")
    val p278 = plan("q278_topic_drift")
    assert(!p278.contains("CartesianProduct") &&
      !p278.contains("BroadcastNestedLoopJoin"),
      s"the drift diff joins on (g, topic) — no unbounded join:\n$p278")
    assert(p278.contains("BroadcastHashJoin"),
      s"the groups-sized share totals must broadcast:\n$p278")
    val p279 = plan("q279_pack_efficiency")
    assert(!p279.contains("CartesianProduct") &&
      !p279.contains("BroadcastNestedLoopJoin"), p279)
    // q280: the per-band anti joins must stay EQUI (hash) joins — the
    // agree-count verify rides as a residual condition, never an
    // OR-of-bands nested loop
    val p280 = plan("q280_text_admission")
    assert(!p280.contains("CartesianProduct") &&
      !p280.contains("BroadcastNestedLoopJoin"),
      s"banded anti joins must be hash joins:\n$p280")
    assert(p280.contains("LeftAnti"), p280)
  }

  test("r16 additions keep their scale shapes: ONE window operator + " +
    "bounded straddle explode, span clip in-row (q281)") {
    // q281: sftMaskSpans inherits the q276 lesson — the bin and the mask
    // offsets derive from one cumsum, and the span clip is a per-row
    // array transform, never a second explode/join
    val p281 = plan("q281_sft_multiturn_mask")
    assert("(?m)^\\s*[+:*-]*\\s*Window ".r.findAllIn(p281).length <= 1,
      s"the bin + cumsum windows must collapse into ONE operator:\n$p281")
    assert(p281.contains("Generate explode"),
      s"the straddle explode must be a Generate, not a join:\n$p281")
    assert("Generate".r.findAllIn(p281).length <= 1,
      s"the span clip must stay in-row — exactly one Generate:\n$p281")
    // q282: doc-granularity FFD + cumsum offsets + hash joins only — the
    // doc-offset and pixel-stat joins must never degrade to a nested loop
    val p282 = plan("q282_interleaved_pack")
    assert(!p282.contains("CartesianProduct") &&
      !p282.contains("BroadcastNestedLoopJoin"),
      s"interleaved packing joins are equi joins on doc/media_id:\n$p282")
    // q283: every per-epoch rank runs the globalRowNumber shape — any
    // WindowExec in the final plan must partition (by the physical
    // partition id), never a global ORDER BY row_number
    Seq("q283_epoch_reshuffle", "q285_multiepoch_stream").foreach { q =>
      val pq = SparkEntry.queries(q)(spark, sf)
      val globalWins = pq.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(globalWins.isEmpty,
        s"$q must never plan a single-partition (global) WindowExec")
    }
  }

  test("space-saving sketch aggregates map-side: one exchange, partial " +
    "summaries on the map side (q115)") {
    val p = plan("q115_heavy_hitters")
    assert(p.contains("partial_spacesavingsketch"),
      s"sketch must partial-aggregate before the exchange:\n$p")
    assert(shuffles(p) <= 2, // group exchange + final sort's range exchange
      s"heavy hitters must shuffle summaries, not terms:\n$p")
  }

  test("bucketed layout: co-located join AND key agg plan with zero shuffles") {
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val custs = spark.read.parquet(s"$sf/customer.parquet")
    graft.ops.Layout.writeBucketed(orders, "b_orders", "o_custkey", 4)
    graft.ops.Layout.writeBucketed(custs, "b_custs", "c_custkey", 4)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // forbid broadcast so the join must exploit the bucket layout, not
      // hide the shuffle question behind a small-side broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = spark.table("b_orders")
        .join(spark.table("b_custs"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "o_custkey").agg(count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      // join on the bucket key reads co-located files; the groupBy keeps
      // the same key so even the aggregation reuses the bucket distribution
      assert(shuffles(p) === 0,
        s"bucketed join/agg must plan with zero shuffle exchanges:\n$p")
      // and the layout is a layout, not a semantic change
      val expect = orders
        .join(custs, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "o_custkey").agg(count(lit(1)).as("n"))
      assert(q.orderBy("c_mktsegment", "o_custkey").collect().toSeq ===
        expect.orderBy("c_mktsegment", "o_custkey").collect().toSeq)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_custs")
    }
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort (q20)") {
    val p = plan("q20_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("selective scan predicates reach the parquet reader (q55)") {
    val p = plan("q55_tpch_q6")
    assert(p.contains("PushedFilters: [") &&
      p.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)].*", "$1").nonEmpty,
      s"TPC-H Q6's filters must push down:\n$p")
  }

  private val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  /** Every FilterExec of `df`'s executed plan, AQE stages included. */
  private def filterExecs(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FilterExec] =
    aqe.collect(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }

  test("bound filter values keep pushdown and plan text: the scan pushes " +
    "the value and the Filter line prints it as a literal") {
    import graft.core._
    val df = GraftService.groupby(spark, GraftService.GroupByCall(
      Seq(s"$sf/lineitem.parquet"), Seq("l_returnflag"),
      Seq(AggSpec("l_quantity", "sum", "q")),
      Seq(FilterTerm("l_extendedprice", ">", 899.5),
        FilterTerm("l_orderkey", "<", 1200L)))).get
    val p = df.queryExecution.executedPlan.toString
    val pushed = aqe.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metadata("PushedFilters")
    }.mkString
    assert(pushed.contains("GreaterThan(l_extendedprice,899.5)") &&
      pushed.contains("LessThan(l_orderkey,1200)"), s"the values must push down:\n$p")
    assert(("Filter \\(\\(\\(isnotnull\\(l_extendedprice#\\d+\\) AND " +
      "isnotnull\\(l_orderkey#\\d+L\\)\\) AND \\(l_extendedprice#\\d+ > 899\\.5\\)\\) " +
      "AND \\(l_orderkey#\\d+L < 1200\\)\\)").r.findFirstIn(p).isDefined, p)
    val Seq(f) = filterExecs(df)
    assert(f.condition.collect { case b: BoundValue => b.lit.value } ===
      Seq(899.5, 1200L), s"both values must be bound:\n$f")
    val unbound = f.copy(condition = f.condition.transform { case b: BoundValue => b.lit })
    assert(f.toString === unbound.toString)
    assert(f.condition.sql === unbound.condition.sql)
    assert(BindFilterValues(f) eq f, "the rule must be idempotent")
  }

  test("bound filter values: every primitive type binds and filters as " +
    "its literal; In and strings stay literals") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val utc = java.time.ZoneOffset.UTC
    val dir = java.nio.file.Files.createTempDirectory("graft-bound").toString
    spark.range(100).select(col("id"), (col("id") % 3).as("g"),
      (col("id") % 2 === 0).as("b"), col("id").cast(ByteType).as("y"),
      col("id").cast(ShortType).as("h"), col("id").cast(IntegerType).as("i"),
      col("id").as("l"), col("id").cast(FloatType).as("f"),
      col("id").cast(DoubleType).as("d"),
      date_add(lit(java.time.LocalDate.of(2024, 1, 1)), col("id").cast(IntegerType)).as("dt"),
      timestamp_seconds(col("id")).as("ts"),
      timestamp_seconds(col("id")).cast(TimestampNTZType).as("ntz"),
      col("id").cast(StringType).as("s"))
      .write.parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    def count(cond: org.apache.spark.sql.Column) =
      t.filter(cond).groupBy("g").count()
    def total(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(1)).sum
    // id > 60 keeps 39 rows, id == 60 one; 2024-03-01 is day 60 of 2024
    val cases = Seq[(org.apache.spark.sql.Column, DataType, Long)](
      (col("b") > false, BooleanType, 50),
      (col("y") > lit(60.toByte), ByteType, 39),
      (col("h") > lit(60.toShort), ShortType, 39),
      (col("i") === 60, IntegerType, 1),
      (col("l") <= 60L, LongType, 61),
      (col("f") > 60.5f, FloatType, 39),
      (col("d") < 60.5, DoubleType, 61),
      (col("dt") > lit(java.time.LocalDate.of(2024, 3, 1)), DateType, 39),
      (col("ts") >= lit(java.time.Instant.ofEpochSecond(60)), TimestampType, 40),
      (col("ntz") > lit(java.time.LocalDateTime.ofEpochSecond(60, 0, utc)),
        TimestampNTZType, 39))
    cases.foreach { case (cond, dt, want) =>
      val df = count(cond)
      assert(total(df) === want, s"$dt: $cond")
      val bound = filterExecs(df).flatMap(_.condition.collect { case b: BoundValue => b })
      assert(bound.map(_.dataType) === Seq(dt), s"$dt must bind: $bound")
    }
    for (cond <- Seq(col("i").isin(1, 2, 3), col("s") > "50")) {
      val df = count(cond)
      total(df)
      val filters = filterExecs(df)
      assert(filters.nonEmpty &&
        filters.forall(_.condition.collect { case b: BoundValue => b }.isEmpty),
        s"$cond must stay literal")
    }
  }

  test("row-wise sketches run with zero aggregation shuffle (q84, q85)") {
    for (q <- Seq("q84_minhash_rowwise", "q85_simhash_rowwise")) {
      val p = plan(q)
      // the only allowed exchange is the final presentation sort's range
      // partitioning — any hashpartitioning means an aggregation snuck in
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not shuffle for aggregation:\n$p")
    }
  }

  test("chunking is a pure map stage before its aggregate (q86 scan side)") {
    val p = plan("q86_chunk")
    // exactly one aggregation exchange (the groupBy chunk_idx); the chunk
    // generation itself must not add one
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected one agg exchange, got $n:\n$p")
  }

  test("rolling-hash fingerprint is a native projection over the scan (q41)") {
    val p = plan("q41_fingerprint")
    // the native expression must sit in a plain Project on the scan — no
    // object serialization boundary, no UDF wrapper (either would break
    // whole-stage fusion; AQE's non-final toString hides codegen spans,
    // so pin the preconditions instead of the marker)
    assert(p.contains("rolling_hash(text"), s"native expression missing:\n$p")
    assert(!p.contains("DeserializeToObject") && !p.contains("ScalaUDF"),
      s"fingerprint stage must stay expression-only:\n$p")
  }

  test("ffd packing shuffles exactly once, on the pack-group key (q97)") {
    val p = plan("q97_pack_ffd")
    // one hash exchange for groupByKey; the final ORDER BY adds a range
    // exchange — any second hashpartitioning means a hidden aggregation
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one group shuffle, got $n:\n$p")
  }

  test("schema-drift read is a single scan, not a per-shard union (q96)") {
    val p = plan("q96_schema_drift")
    assert(!p.contains("Union"), s"drift read must stay one scan:\n$p")
  }

  test("bloom decontamination: ONE scan of incoming, one verify join (q119)") {
    val p = plan("q119_bloom_dedup")
    // one-scan shape: the bloom probe null-gates the join key, so there is
    // no filter∪filter branch re-reading the source — incoming appears as
    // exactly one scan (the second scan is the verify join's corpus build
    // side), and definite-absents ride through the single anti join on a
    // null key instead of bypassing it via a Union
    assert(!p.contains("Union"), s"one-scan shape must not branch:\n$p")
    assert(p.contains("LeftAnti") && p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"verify join must broadcast here:\n$p")
    assert("LeftAnti".r.findAllIn(p).size == 1,
      s"exactly one anti join expected:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 2,
      s"exactly two scans expected (incoming + corpus build side):\n$p")
  }

  test("batched ivf probe: table vectors never shuffle; only the per-query window does (q125)") {
    val p = plan("q125_ann_ivf_batch")
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"),
      s"batch membership must broadcast:\n$p")
    // shuffles: the qid window(s) + final agg — never the vector table scan
    assert(shuffles(p) <= 3, s"unexpected shuffle count:\n$p")
  }

  test("ngram decontamination: one scan of incoming, broadcast bench set, " +
    "one counting pass (q130)") {
    val p = plan("q130_ngram_decontam")
    // total + matched gram counts come from ONE aggregation over ONE scan
    // of incoming left-joined to the broadcast benchmark set — a semi-join
    // shape would re-scan incoming for the denominator and join id-to-id
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"benchmark gram set must broadcast:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 2,
      s"exactly two scans (incoming + bench build side):\n$p")
    // gram-dedup agg + per-doc agg + final sort — never a 4th
    assert(shuffles(p) <= 3, s"unexpected shuffle count:\n$p")
  }

  test("weighted sample pushes the rank limit below the shuffle (q131); " +
    "budget cumsum rides one exchange (q134)") {
    val p131 = plan("q131_weighted_sample")
    // Spark's rank-limit pushdown: each map task pre-prunes to its local
    // top-k BEFORE the group exchange — the full table never shuffles
    assert(p131.contains("WindowGroupLimit"),
      s"rank filter must push a partial top-k below the exchange:\n$p131")
    assert(shuffles(p131) <= 2, s"window + final sort only:\n$p131")
    // q124: the exact-k sample must plan BOTH phases — a Partial
    // WindowGroupLimit below the exchange (map-side k per task: the
    // hot-group fix) and the Final one above it
    val p124 = plan("q124_sample_k_per_group")
    assert(p124.contains("WindowGroupLimit") && p124.contains("Partial")
        && p124.contains("Final"),
      s"exact-k sample must run two-phase (Partial + Final group limit):\n$p124")
    // q134: stats agg (the prefilter's driver-sized calibration) + window
    // + final sort; the post-window group-agg must NOT add a fourth —
    // the window partitions by the original group column so the agg
    // reuses its hash partitioning
    val p134 = plan("q134_budget_per_group")
    assert(shuffles(p134) <= 3, s"stats agg + window + final sort only:\n$p134")
  }

  test("span mining runs Expand-free: two-level agg replaces count+countDistinct (q146, q148)") {
    // count + countDistinct in ONE aggregate makes Spark Expand-duplicate
    // every exploded slot row; the two-level form avoids it — pin that the
    // rewrite never regresses
    for (name <- Seq("q146_repeated_spans", "q148_span_coverage")) {
      val p = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("Expand"), s"$name must plan without Expand:\n$p")
    }
  }

  test("budget take's window reads the hash-cutoff prefix, not the full " +
    "group (q134, q149)") {
    // the hot-group fix: the exact window's input must carry the broadcast
    // cutoff filter (__h <= __cut), so a dominant group's window sorts
    // ~budget rows, never the whole group
    for (q <- Seq("q134_budget_per_group", "q149_sqrt_mixture")) {
      val p = plan(q)
      assert(p.contains("__cut"),
        s"$q window input must be prefiltered by the hash cutoff:\n$p")
      assert(p.contains("Window"), s"$q must still run the exact window:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q cutoffs must broadcast, not shuffle:\n$p")
    }
  }

  test("date-type drift read is a single scan, not a per-shard union (q117)") {
    // the widened-NTZ fallback path must also stay one FileSourceScan —
    // a per-shard union would blow up the plan at 100k shards
    val p = plan("q117_drift_date")
    assert(!p.contains("Union"), s"date-drift read must stay one scan:\n$p")
  }

  test("dsir scoring joins the bucket table by broadcast, never SMJ (q160)") {
    // the score table is <= nBuckets rows by construction — if it ever
    // falls back to a shuffle join the corpus-side explode re-exchanges
    // per-gram rows, the exact failure mode feature hashing exists to avoid
    // (the per-doc weight join-back is a legitimate shuffle join at scale,
    // so the pin targets the __b bucket join specifically, not the plan)
    val p = plan("q160_dsir_weights")
    assert(p.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("__b")),
      s"q160 score lookup must broadcast on the bucket key:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("__b")),
      s"q160 gram rows must never sort-merge on the bucket key:\n$p")
  }

  test("hard-negative mining: anchors broadcast, rank runs two-phase (q164)") {
    val p = plan("q164_hard_negatives")
    // anchors must reach the corpus scan as a broadcast product, never a
    // shuffled join on the corpus side
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"q164 anchors must broadcast into the scoring scan:\n$p")
    // the per-anchor top-k must plan BOTH WindowGroupLimit phases — the
    // anchor cardinality is tiny by contract, so without the Partial
    // map-side limit each anchor's whole scored corpus would ship to one
    // reducer (the hot-group failure mode)
    assert(p.contains("WindowGroupLimit") && p.contains("Partial")
        && p.contains("Final"),
      s"q164 rank filter must two-phase (Partial + Final group limit):\n$p")
  }

  test("span cut canonical split is the min-struct agg, not a per-gram rank (q168)") {
    // the canonical occurrence must come from a partial-aggregable min,
    // never a per-gram rank — a WindowGroupLimit here would mean a hot
    // gram (boilerplate repeated millions of times) sorts all its
    // occurrences on one reducer (the doc-id interval-merge windows are
    // fine; it is the gram-keyed group limit that must be absent)
    val p = plan("q168_span_cut_keep_first")
    assert(!p.contains("WindowGroupLimit"),
      s"q168 canonical split must be the min-struct agg, not a rank:\n$p")
  }

  test("bloom probe is a fused codegen expression, not a UDF (q119)") {
    val p = plan("q119_bloom_dedup")
    // the membership probe must appear as the native expression inside the
    // scan-side projection — a ScalaUDF would pay UTF8String→String SerDe
    // per row and sit as an opaque invoke in the generated code
    assert(p.contains("bloom_might_contain"),
      s"native bloom probe expression expected in the plan:\n$p")
    assert(!p.contains("UDF") && !p.contains("ScalaUDF"),
      s"no UDF may remain on the decontamination path:\n$p")
    // and the probe must land INSIDE a whole-stage-codegen span (the AQE
    // executedPlan string hides spans pre-execution, so materialize first,
    // then read the generated code off the FINAL plan — which also proves
    // Janino compiles the generated probe)
    val df = SparkEntry.queries("q119_bloom_dedup")(spark, sf)
    df.collect()
    val cg = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(cg.contains("WholeStageCodegen"), s"probe stage must codegen:\n$cg")
    assert(cg.contains("mightContainBinary"),
      "generated code must carry the fused bloom probe call")
  }

  test("paragraph dedup's canonical split is the min-struct agg — no " +
    "window anywhere in the plan (q177)") {
    // a row_number per paragraph would ship a hot header's 10⁶
    // occurrences to one reducer; the keep rule must stay a
    // partial-aggregable min (same discipline as the q168 pin)
    val p = plan("q177_paragraph_dedup")
    assert(!p.contains("Window"),
      s"q177 must not plan any window operator:\n$p")
  }

  test("LM tercile is scale-safe: no single-partition WindowExec in q169 " +
    "(ntileExact ranks inside range partitions, never a global ntile)") {
    import org.apache.spark.sql.functions._
    // the final q169 plan must carry NO window at all — the rank ran
    // inside ntileExact's checkpointed stage and the bucket is arithmetic
    val p = plan("q169_lm_quality_5gram")
    assert(!p.contains("Window") && !p.contains("ntile"),
      s"q169 must not plan any window operator:\n$p")
    // and the internal rank stage's one window partitions by the physical
    // partition id — a global ORDER BY ntile here is the scale-killer the
    // r10 judge flagged (corpus-sized score table on one reducer)
    val docs = spark.range(0, 100).select(col("id"),
      (col("id") * 37 % 11).as("score"))
    val ranked = graft.ops.Sampling.rankedLocal(docs,
      Seq(col("score").asc, col("id").asc), "rn")
    val wins = ranked.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, "rankedLocal must plan its partition-local window")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      s"rankedLocal's window must partition by __pid, never globally:\n" +
        ranked.queryExecution.sparkPlan)
  }

  test("BPE apply runs as a native codegen expression in the scan's " +
    "projection — no UDF, no codegen fence (q172)") {
    val df = SparkEntry.queries("q172_bpe_apply")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("bpe_apply"), s"native expression expected:\n$p")
    assert(!p.contains("UDF") && !p.contains("ScalaUDF"),
      s"no UDF may carry the merge loop:\n$p")
    val cg = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(cg.contains("BpeApply.encode"),
      "generated code must call the static merge-loop helper")
  }

  test("IVF hard-negative mining scans only probed inverted lists — " +
    "cluster IN (…) is a partition filter, not a data filter (q170)") {
    val p = plan("q170_hard_negatives_ivf")
    // the probe set must reach the hive-partitioned index as a PARTITION
    // filter (unopened list files) — if it shows up in DataFilters the
    // layout stopped pruning and every list is being read back
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(p).isDefined,
      s"q170 probe set must prune index partitions:\n$p")
    assert(!"DataFilters: \\[[^\\]]*cluster".r.findFirstIn(p).isDefined,
      s"q170 cluster probe must not degrade to a data filter:\n$p")
  }

  test("NB predict: model joins broadcast, argmax is the min-struct agg — " +
    "no window, no sort-merge join (q184)") {
    // the class argmax must stay a partial-aggregable min(struct): a
    // row_number per doc would range-shuffle every (doc, class) score row
    // to one reducer chain; the model and label tables are driver-sized
    // broadcast constants by contract
    val p = plan("q184_nb_classifier")
    assert(!p.contains("Window"),
      s"q184 argmax must not plan a window:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"q184 model join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q184 must not sort-merge-join the model:\n$p")
  }

  test("winnowed-print decontamination: benchmark print set broadcasts; " +
    "corpus side shuffles one per-doc aggregation only (q183)") {
    val p = plan("q183_winnow_decontam")
    assert(p.contains("BroadcastHashJoin"),
      s"q183 benchmark prints must broadcast:\n$p")
    // corpus prints → broadcast join → per-doc agg → anti join → final agg:
    // the corpus text itself must never shuffle (no sort-merge join)
    assert(!p.contains("SortMergeJoin"),
      s"q183 must not sort-merge-join the corpus:\n$p")
  }

  test("semantic decontamination is one broadcast nested-loop anti join — " +
    "the corpus never shuffles (q188)") {
    val p = plan("q188_semantic_decontam")
    assert("BroadcastNestedLoopJoin [^\\n]*LeftAnti".r.findFirstIn(p).isDefined,
      s"q188 must anti-join against the broadcast benchmark:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"q188 must never shuffle or cartesian the corpus:\n$p")
    // remaining exchanges belong to the final aggregate + sort only
    assert(shuffles(p) <= 2, s"q188 corpus pass must be shuffle-free:\n$p")
  }

  test("C4 line cleaning is one fused per-row projection — no exchange " +
    "before the final ordering (q181)") {
    val p = plan("q181_c4_line_filter")
    // split/filter/join run inside the scan's projection; the only
    // exchange is the final ORDER BY's range partition
    assert(shuffles(p) <= 1,
      s"q181 must not shuffle before the final sort:\n$p")
    assert(!p.contains("ScalaUDF"), s"no UDF in the line rules:\n$p")
  }

  test("label propagation ranks two-phase under WindowGroupLimit (q197)") {
    val p = plan("q197_label_propagation")
    // the k-nearest-seed rank must partial-limit on the map side: reducers
    // see ≤ k·nMapTasks candidates per source, never the full edge list
    assert(p.contains("WindowGroupLimit"),
      s"q197 rank must two-phase:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("count-min estimate probes against the size-bounded sketch by " +
    "broadcast — the corpus side only partial-aggregates (q203)") {
    val p = plan("q203_count_min")
    // sketch ≤ depth·width rows by construction → its join must broadcast
    assert(p.contains("BroadcastHashJoin"), s"sketch join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing here may SMJ:\n$p")
    assert(!p.contains("ScalaUDF"), s"portable hashes are expressions:\n$p")
  }

  test("integer PageRank inherits the graph's two-phase rank and adds " +
    "only joins + partial aggs — no cartesian anywhere (q202)") {
    val p = plan("q202_graph_pagerank")
    assert(p.contains("WindowGroupLimit"),
      s"the underlying k-NN rank must two-phase:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("r16 late additions keep their scale shapes: one rank window + " +
    "hash-only pair join (q286), single corpus scan under the threshold " +
    "sweep (q287), banded hash joins only in wave admission (q288)") {
    // q286: the candidate pairing is an equi join on prompt_id (the
    // ca < cb residual rides along), and the tournament needs exactly
    // one rank window — partitions bounded by the sampler's n
    val p286 = plan("q286_preference_rank")
    assert(!p286.contains("CartesianProduct") &&
      !p286.contains("BroadcastNestedLoopJoin"),
      s"pairing must stay an equi join:\n$p286")
    assert("(?m)^\\s*[+:*-]*\\s*Window ".r.findAllIn(p286).length <= 1,
      s"one rank window only:\n$p286")
    // q287: the decision table must cost ONE corpus pass — the bucket
    // aggregation's exchange is computed once and REUSED by the totals
    // branch, never a second documents scan per branch/threshold
    val p287 = plan("q287_threshold_sweep")
    val scans287 = "Scan parquet".r.findAllIn(p287).length
    assert(scans287 <= 1 || p287.contains("ReusedExchange"),
      s"the sweep may scan the corpus once:\n$p287")
    // q288/q290: the wave folds EAGERLY localCheckpoint each admission
    // (the dupClusters lineage rule), so the census plan must read
    // lineage-truncated RDDs, never re-derive earlier waves lazily
    val p288 = plan("q288_evolving_admission")
    assert(p288.contains("Scan ExistingRDD"),
      s"per-wave admissions must be lineage-truncated (localCheckpoint), " +
        s"never lazily re-derived:\n$p288")
    // the admission STEP itself (shared by both folds and both streaming
    // gates): every kill pass an LSH-banded/bucketed EQUI join — the
    // smaller-id / agree / cosine conditions ride as residuals, no
    // nested loop, and the anti joins stay anti
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val idx = graft.ops.Dedup.minhashSignaturesRowwise(
      docs.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), 3, 16)
    // the kill passes (pinned on admitWithSig, the shared core): every
    // pass an LSH-banded EQUI join, anti joins stay anti
    val stepSig = graft.ops.Dedup.minhashSignaturesRowwise(
      docs.filter(col("doc_id") % 2 =!= 0), col("doc_id"), col("text"), 3, 16)
    val pCore = graft.ops.Dedup.admitWithSig(
        docs.filter(col("doc_id") % 2 =!= 0), col("doc_id"), stepSig,
        idx, 16, 4, 8)
      .queryExecution.executedPlan.toString
    assert(!pCore.contains("CartesianProduct") &&
      !pCore.contains("BroadcastNestedLoopJoin"),
      s"admission kill passes must stay hash-joined:\n$pCore")
    assert(pCore.contains("LeftAnti"), pCore)
    // the public BATCH entry materializes eagerly and RELEASES its
    // signature storage before returning (r16 ADVICE — no cached-block
    // accumulation in long-lived sessions); the returned plan is one
    // anti hash join against the lineage-truncated dead-id list
    spark.catalog.clearCache()
    val pStep = graft.ops.Dedup.admitStep(
        docs.filter(col("doc_id") % 2 =!= 0), col("doc_id"), col("text"),
        idx, 3, 16, 4, 0.5)
      .queryExecution.executedPlan.toString
    assert(spark.sharedState.cacheManager.isEmpty,
      "admitStep must unpersist its signature frame before returning")
    assert(!pStep.contains("CartesianProduct") &&
      !pStep.contains("BroadcastNestedLoopJoin"), pStep)
    assert(pStep.contains("LeftAnti") && pStep.contains("ExistingRDD"),
      s"admitStep must return one anti join over checkpointed dead ids:\n$pStep")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val eIdx = graft.ops.Dedup.embedIndexOf(
      emb.filter(col("vec_id") % 2 === 0), col("vec_id"), col("embedding"), 4)
    val pStepE = graft.ops.Dedup.admitStepEmbed(
        emb.filter(col("vec_id") % 2 =!= 0), col("vec_id"),
        col("embedding"), eIdx, 4, 0.95)
      .queryExecution.executedPlan.toString
    assert(!pStepE.contains("CartesianProduct") &&
      !pStepE.contains("BroadcastNestedLoopJoin"),
      s"vector admission must stay hash-joined:\n$pStepE")
    // the media twin: pigeonhole-banded candidates are (kind, band,
    // bval) EQUI joins with the exact bit_count(xor) verify as a
    // post-join filter — never a cartesian over the hash tables
    val mHashes = emb.select(col("vec_id").as("doc"),
      org.apache.spark.sql.functions.lit("image").as("kind"),
      col("vec_id").as("phash"))
    val pStepM = graft.ops.Dedup.admitStepMedia(
        mHashes.filter(col("doc") % 2 =!= 0),
        mHashes.filter(col("doc") % 2 === 0), maxHamming = 3)
      .queryExecution.executedPlan.toString
    assert(!pStepM.contains("CartesianProduct") &&
      !pStepM.contains("BroadcastNestedLoopJoin"),
      s"media admission must stay hash-joined on the band keys:\n$pStepM")
    // q292/q293: the serving-side decision tables are rank/lag windows
    // partitioned by group — one per policy for the pad sweep, exactly
    // one for the prefix-cache lag; never a join, never a cartesian
    val p292 = plan("q292_pad_waste")
    assert("(?m)^\\s*[+:*-]*\\s*Window ".r.findAllIn(p292).length <= 2,
      s"one rank window per batching policy:\n$p292")
    assert(!p292.contains("CartesianProduct") && !p292.contains("Join"),
      s"the pad-waste table is windows + aggs, no joins:\n$p292")
    val p293 = plan("q293_prefix_cache")
    assert("(?m)^\\s*[+:*-]*\\s*Window ".r.findAllIn(p293).length <= 1,
      s"one lexicographic lag window:\n$p293")
    assert(!p293.contains("CartesianProduct") && !p293.contains("Join"),
      s"the prefix-cache table is one window + one agg, no joins:\n$p293")
  }

  test("r17 additions keep their scale shapes: contrastive selection is " +
    "window-free (q295), the takedown audit is two partial aggs with no " +
    "join or window, soft-dedup weighting never goes cartesian (q297)") {
    import org.apache.spark.sql.functions.col
    val p295 = plan("q295_moore_lewis")
    assert(!p295.contains("Window"),
      s"the double ladder is joins + partial aggs, never a window:\n$p295")
    assert(!p295.contains("CartesianProduct"), p295)
    import spark.implicits._
    val packed = Seq(("g", 0L, 1L, 10L, false))
      .toDF("grp", "bin", "doc", "n_tok", "rm")
    val pAudit = graft.ops.Chunking.takedownAudit(packed, col("grp"),
        col("bin"), col("n_tok"), col("rm"))
      .queryExecution.executedPlan.toString
    assert(!pAudit.contains("Join") && !pAudit.contains("Window"),
      s"the rebuild bill is two partial-aggregable groupBys:\n$pAudit")
    val p297 = plan("q297_soft_dedup")
    assert(!p297.contains("CartesianProduct"), p297)
  }

  test("r18 additions keep their scale shapes: the prefix-cache schedule " +
    "is the report's ONE window re-used (no join), the takedown repack " +
    "candidates via equi joins only, the composed ML funnel and the " +
    "media admission never go cartesian") {
    val p298 = plan("q298_prefix_schedule")
    // rank + lag may land as two physical Window nodes, but they share
    // ONE (grp)-hash exchange — the sort/shuffle is paid once
    assert("(?m)^\\s*[+:*-]*\\s*Window ".r.findAllIn(p298).length <= 2,
      s"only the lag + rank windows:\n$p298")
    assert("Exchange hashpartitioning".r.findAllIn(p298).length <= 1,
      s"lag and rank must share one per-group exchange:\n$p298")
    assert(!p298.contains("CartesianProduct") && !p298.contains("Join"),
      s"the schedule is windows over the prompt table, no joins:\n$p298")
    val p299 = plan("q299_takedown_repack")
    assert(!p299.contains("CartesianProduct") &&
      !p299.contains("BroadcastNestedLoopJoin"),
      s"dirty-bin flagging and offsets are equi joins:\n$p299")
    // the ML ladder broadcast-crosses its ONE-ROW totals frame (N, V) —
    // that lands as BroadcastNestedLoopJoin by construction (the q295
    // shape); only a true cartesian over data-sized sides is banned
    val p301 = plan("q301_ml_curate_funnel")
    assert(!p301.contains("CartesianProduct"),
      s"the composed funnel stays hash-joined through the ML stage:\n$p301")
    val p300 = plan("q300_media_evolving")
    assert(!p300.contains("CartesianProduct") &&
      !p300.contains("BroadcastNestedLoopJoin"),
      s"staged media admission candidates via banded equi joins:\n$p300")
  }

  test("r19 late additions keep their scale shapes: the DP count draw is " +
    "join-free, the DP sum draw broadcasts its valved table, pass@k is " +
    "join- and window-free, and the mixture/leaderboard ops never go " +
    "cartesian") {
    val p306 = plan("q306_dp_release")
    assert(!p306.contains("Join") && !p306.contains("CartesianProduct"),
      s"the literal-table noise draw must not join at all:\n$p306")
    val p308 = plan("q308_dp_sums")
    assert(!p308.contains("CartesianProduct") &&
      !p308.contains("SortMergeJoin"),
      s"the big-table draw is a BROADCAST nested loop, never a shuffle " +
        s"join or true cartesian:\n$p308")
    val p309 = plan("q309_pass_at_k")
    assert(!p309.contains("Join") && !p309.contains("Window"),
      s"pass@k is one partial-aggregable groupBy + per-row folds:\n$p309")
    // q304/q305/q310 broadcast their driver-sized sidecars (decay table,
    // weight vector, strengths) — BroadcastNestedLoopJoin/BroadcastHash
    // by construction; only a data-sized cartesian is banned
    val p304 = plan("q304_doremi_mixture")
    assert(!p304.contains("CartesianProduct"), p304)
    val p305 = plan("q305_repetition_alloc")
    assert(!p305.contains("CartesianProduct"), p305)
    val p310 = plan("q310_bt_leaderboard")
    assert(!p310.contains("CartesianProduct") &&
      !p310.contains("SortMergeJoin"),
      s"the strengths sidecar must broadcast-join back:\n$p310")
    val p307 = plan("q307_cluster_split")
    assert(!p307.contains("CartesianProduct"),
      s"cluster split + straddle audit stay hash/broadcast joined:\n$p307")
  }

  test("index-bounded margin mining: the centroid form is an EQUI join " +
    "(no cartesian anywhere), the ivf form partition-prunes to the " +
    "probed lists (q294)") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 400)
    val srcS = emb.filter(col("vec_id") % 2 === 0)
    val tgtS = emb.filter(col("vec_id") % 2 =!= 0)
    val lattice: Seq[(Long, Array[Float])] = (0 until 4).map(t =>
      (t.toLong, Array.tabulate(64)(i => if (i / 16 == t) 1.0f else -0.25f)))
    val pC = graft.ops.Similarity.marginMineFromCentroids(srcS,
        col("vec_id"), col("embedding"), tgtS, col("vec_id"),
        col("embedding"), lattice, 2, 4)
      .queryExecution.executedPlan.toString
    assert(!pC.contains("CartesianProduct") &&
      !pC.contains("BroadcastNestedLoopJoin"),
      s"centroid-bounded mining must candidate via an equi join:\n$pC")
    val dir = java.nio.file.Files.createTempDirectory("mmIdx").toString
    graft.ops.Similarity.ivfWritePartitioned(tgtS, col("vec_id"),
      col("embedding"), 4, s"$dir/idx")
    val pI = graft.ops.Similarity.marginMineFromIndex(spark, s"$dir/idx",
        srcS, col("vec_id"), col("embedding"), 2, 4)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(pI).isDefined,
      s"the probe set must prune index partitions:\n$pI")
    assert(!"DataFilters: \\[[^\\]]*cluster".r.findFirstIn(pI).isDefined,
      s"the cluster probe must not degrade to a data filter:\n$pI")
    assert(!pI.contains("CartesianProduct") &&
      !pI.contains("BroadcastNestedLoopJoin"),
      s"index mining must candidate via an equi join:\n$pI")
  }
}
