package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (SURVEY §4.2, VERDICT r1 items 1-3): the keys
  * that exist to prove scan pruning / pushdown / join strategy / top-k
  * actually produce those plans — at 100 TB these ARE the query cost.
  *
  * Queries are executed first so AQE finalizes (`isFinalPlan=true`) and the
  * plan string shows the real scan metadata + codegen stages.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def finalPlan(key: String): String = {
    val df = SparkEntry.queries(key)(spark, TestSpark.Sf0001)
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  /** Plan-node budget pin. Counts are plan NODES: ReusedExchange
    * references repeat the referenced exchange's text, so raw substring
    * counts over-count plans that deliberately reuse an exchange. */
  private def nodeBudget(key: String, fileScanMax: Int, rddScanMax: Int,
                         hashExMax: Int): Unit = {
    val s = finalPlan(key).split("== Initial Plan ==")(0)
    def nodes(m: String) = s.linesIterator
      .count(l => l.contains(m) && !l.contains("ReusedExchange"))
    assert(nodes("FileScan parquet") <= fileScanMax,
      s"$key reads ${nodes("FileScan parquet")} parquet scans (budget $fileScanMax):\n$s")
    // checkpointed-signature keys: every join side must share the ONE
    // materialized RDD — more RDD scans = a re-derived lineage
    assert(nodes("Scan ExistingRDD") <= rddScanMax,
      s"$key scans ${nodes("Scan ExistingRDD")} checkpointed RDDs (budget $rddScanMax):\n$s")
    assert(nodes("Exchange hashpartitioning") <= hashExMax,
      s"$key shuffles ${nodes("Exchange hashpartitioning")}× (budget $hashExMax):\n$s")
    assert(!s.contains("CartesianProduct") &&
           !s.contains("BroadcastNestedLoopJoin"),
      s"$key degenerated to an all-pairs join:\n$s")
  }

  private def readSchemaCols(plan: String): Set[String] =
    "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan)
      .map(_.group(1).split(",").map(_.split(":")(0).trim).toSet)
      .getOrElse(fail(s"no ReadSchema in plan:\n$plan"))

  test("events.ts predicates push into the parquet scan (NTZ-as-LTZ read)") {
    // the micros-NTZ fixture must surface TIMESTAMP at the scan itself
    // (inferTimestampNTZ=false) — a post-scan cast would strand every ts
    // range predicate above the reader, unprunable at 100 TB
    import org.apache.spark.sql.functions._
    // only holds for timestamp-annotated fixtures; a TIMESTAMP(NANOS)
    // vintage surfaces as a raw long and necessarily converts post-scan
    assume(spark.read.parquet(s"${TestSpark.Sf0001}/events.parquet")
      .schema("ts").dataType != org.apache.spark.sql.types.LongType,
      "nanos-era fixture: ts cannot read as a scan-level timestamp")
    val f = Tables.events(spark, TestSpark.Sf0001)
      .filter(col("ts") >= lit("2024-01-03").cast("timestamp"))
    f.collect()
    val plan = f.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan)
      .map(_.group(1)).getOrElse(fail(s"no PushedFilters in plan:\n$plan"))
    // assert the RANGE predicate specifically: a post-scan cast regression
    // would still push the constraint-inferred IsNotNull(ts), so a bare
    // contains("ts") check stays green in exactly the failure mode this
    // test exists to catch
    assert(pushed.contains("GreaterThanOrEqual(ts"),
      s"ts range predicate not pushed (only: $pushed)")
  }

  test("q_scan_project prunes to exactly the 4 projected columns") {
    assert(readSchemaCols(finalPlan("q_scan_project")) ==
      Set("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"))
  }

  test("q_scan_pushdown pushes the shipdate range into the parquet reader") {
    val plan = finalPlan("q_scan_pushdown")
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan)
      .map(_.group(1)).getOrElse(fail(s"no PushedFilters in plan:\n$plan"))
    assert(pushed.nonEmpty, "empty PushedFilters — range not pushed")
    assert(pushed.contains("l_shipdate"), s"shipdate not pushed: $pushed")
    // and the scan reads only the filter/output columns, not all 11
    assert(readSchemaCols(plan).size <= 4)
  }

  test("q_join_broadcast plans a BroadcastHashJoin") {
    assert(finalPlan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_join_inner picks a sane join strategy (broadcast or sort-merge)") {
    val s = finalPlan("q_join_inner")
    assert(s.contains("BroadcastHashJoin") || s.contains("SortMergeJoin") ||
      s.contains("ShuffledHashJoin"))
  }

  test("q_topk_global plans TakeOrderedAndProject (no global sort)") {
    assert(finalPlan("q_topk_global").contains("TakeOrderedAndProject"))
  }

  test("aggregations are two-phase (partial before shuffle)") {
    val s = finalPlan("q_agg_groupby")
    assert(s.contains("HashAggregate"))
    assert(s.toLowerCase.contains("partial"),
      "no partial aggregate — map-side combine missing")
  }

  test("whole-stage codegen covers the hot path of the flagship query") {
    // codegen stages render as `*(n)` prefixes in the final plan string
    val s = finalPlan("q_agg_groupby")
    assert("\\*\\(\\d+\\)".r.findFirstIn(s).isDefined,
      "flagship query fell out of whole-stage codegen")
    // scan → filter → partial agg must share one codegen stage (stage 1)
    assert(s.contains("*(1) HashAggregate") && s.contains("*(1) Filter"),
      "partial agg and filter not fused into one codegen stage")
  }

  test("exact-sum keys: the partial agg over lineitem sums only bigints") {
    // the r20 property `QueryPack.exactSum` exists for: every fact-grain
    // sum buffer is a long word, never a byte-backed decimal buffer
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, Sum}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.types.LongType
    val aqe = new AdaptiveSparkPlanHelper {}
    for (k <- Seq("q_agg_groupby", "q_rollup", "q_feature_scale",
                  "q_corr_matrix", "q_linreg")) {
      val df = SparkEntry.queries(k)(spark, TestSpark.Sf0001)
      df.collect() // finalize AQE
      val sums = aqe.collect(df.queryExecution.executedPlan) {
        case a: HashAggregateExec => a.aggregateExpressions
      }.flatten.filter(_.mode == Partial).map(_.aggregateFunction)
        .collect { case s: Sum => s.child }
      assert(sums.nonEmpty, s"$k has no partial sum")
      assert(sums.forall(_.dataType == LongType),
        s"$k sums a non-bigint input at fact grain: " +
          sums.filter(_.dataType != LongType).mkString(", "))
    }
  }

  test("near-dup candidate generation never plans a cartesian product") {
    for (k <- Seq("q_dedup_simhash", "q_dedup_ngram", "q_dedup_embed",
                  "q_dedup_minhash")) {
      val s = finalPlan(k)
      assert(!s.contains("CartesianProduct"),
        s"$k degenerated to an all-pairs cartesian join")
      assert(!s.contains("BroadcastNestedLoopJoin"),
        s"$k pair join lost its bucket equi-key")
    }
  }

  test("q_lang_id joins the tiny profile table by broadcast") {
    assert(finalPlan("q_lang_id").contains("BroadcastHashJoin"))
  }

  test("sampling keys are narrow: one scan, shuffle only for the final agg") {
    for (k <- Seq("q_split_sample", "q_corpus_mix")) {
      // the AQE plan string repeats the tree under "== Initial Plan ==" —
      // count only the executed (final) section
      val s = finalPlan(k).split("== Initial Plan ==")(0)
      assert(s.linesIterator.count(_.contains("FileScan parquet")) == 1,
        s"$k reads more than one scan")
      // exactly the partial→final agg exchange, nothing upstream of it
      assert("Exchange hashpartitioning".r.findAllIn(s).size <= 1,
        s"$k shuffles more than the final aggregation:\n$s")
    }
  }

  test("q_window_count_distinct carries no per-row set state (r16 delta form)") {
    // The r15 sf1 gate measured the collect_set-over-RANGE-frame form at
    // 12× cost for 10× data (O(users-in-window) set PER ROW). The contract
    // key is now the exact first-appearance delta algebra; a collect_set
    // reappearing in the key's plan is the regression this pins against.
    val s = finalPlan("q_window_count_distinct")
    assert(!s.contains("collect_set"),
      s"q_window_count_distinct regressed to per-row set state:\n$s")
  }

  test("q_sort_multi and q_watermark_late never collapse to one partition") {
    // Round-3 verdict items 2-3 replaced the global-window forms with
    // two-pass algorithms; this pins the fix. A regression to
    // `Window.orderBy(...)` with no partitionBy would reintroduce an
    // `Exchange SinglePartition` + partition-less WindowExec — the two plans
    // that die at 100x scale.
    locally {
      val s = finalPlan("q_sort_multi")
      assert(!s.contains("Exchange SinglePartition"),
        s"q_sort_multi funnels all rows through one partition:\n$s")
    }
    // q_watermark_late (r16, fully planned): the row-grain window is
    // bucket-local and the bucket-grain carry window superbucket-local;
    // ONLY the superbucket-grain carry (the doubly-reduced ~maxId/2^20
    // frame) may cross a single-partition window — more than one
    // SinglePartition exchange means a fact- or bucket-grain frame
    // regressed to one task. No RDD drop-out, no driver collect (the
    // r15 scanLeft-carry is retired: no LocalTableScan carry relation).
    val wm = finalPlan("q_watermark_late").split("== Initial Plan ==")(0)
    assert(!wm.contains("Scan ExistingRDD"),
      "q_watermark_late left Tungsten (RDD lineage)")
    assert("Exchange SinglePartition".r.findAllIn(wm).size <= 1,
      s"q_watermark_late funnels more than the super-grain carry " +
      s"through one partition:\n$wm")
    assert(!wm.contains("LocalTableScan"),
      s"q_watermark_late regressed to a driver-materialized carry:\n$wm")
    assert(wm.linesIterator.filter(_.contains("Window"))
      .forall(l => l.contains("bucket") || l.contains("sb")),
      s"q_watermark_late window lost its bucket partitioning:\n$wm")
    // q_sort_multi (r14, DataFrame-native): its ONE window is bucket-local
    // — partitioned by (c_mktsegment, band) — and the rank assembly is a
    // broadcast offset join; no RDD drop-out (the r13 zipWithIndex form),
    // no UDFs, whole frame stays in Tungsten
    val sm = finalPlan("q_sort_multi").split("== Initial Plan ==")(0)
    assert(sm.contains("Window"), "q_sort_multi lost its bucket window")
    assert(sm.linesIterator.filter(_.contains("Window"))
      .forall(l => l.contains("c_mktsegment") && l.contains("band")),
      s"q_sort_multi window is not bucket-partitioned:\n$sm")
    assert(!sm.contains("Scan ExistingRDD"),
      s"q_sort_multi dropped out of Tungsten into an RDD:\n$sm")
    assert(sm.contains("BroadcastHashJoin"),
      s"q_sort_multi offset join is not broadcast:\n$sm")
  }

  test("q_unpivot is one Expand over one scan — no shuffle before the sort") {
    val s = finalPlan("q_unpivot").split("== Initial Plan ==")(0)
    assert(s.contains("Expand"), "unpivot should compile to Expand")
    assert(s.linesIterator.count(_.contains("FileScan parquet")) == 1,
      "unpivot re-scanned the table per measure column")
    assert(!s.contains("Exchange hashpartitioning"),
      "unpivot shuffled before the output sort")
  }

  test("q_scalar_subquery broadcasts the 1-row aggregate (never shuffles the table for it)") {
    val s = finalPlan("q_scalar_subquery")
    assert(s.contains("BroadcastNestedLoopJoin"),
      "1-row aggregate should join as a broadcast nested loop")
    assert(!s.contains("CartesianProduct"),
      "scalar subquery degenerated to a cartesian product")
  }

  test("q_stream_join joins on the user equi-key (range predicate is a filter, not the join)") {
    val s = finalPlan("q_stream_join")
    assert(!s.contains("CartesianProduct") &&
           !s.contains("BroadcastNestedLoopJoin"),
      s"interval join lost its user_id equi-key:\n$s")
    assert(s.contains("BroadcastHashJoin") || s.contains("SortMergeJoin") ||
           s.contains("ShuffledHashJoin"),
      s"no equi-join in the interval-join plan:\n$s")
  }

  test("q_fuzzy_match blocks candidates on the equi block key (never all-pairs)") {
    val s = finalPlan("q_fuzzy_match")
    assert(!s.contains("CartesianProduct"),
      s"fuzzy match degenerated to all-pairs:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin"),
      s"fuzzy match lost its blocking equi-key:\n$s")
    // The length band is part of the JOIN KEY (composite (blk, wl)
    // equi-key), not a residual filter: the join keys section must name
    // both columns so the shuffle hashes on first-char × length.
    assert(s.contains("blk") && s.contains("wl"),
      s"fuzzy match lost the composite (blk, wl) block key:\n$s")
  }

  test("q_stratified_sample limits groups partially before the shuffle (WindowGroupLimit)") {
    val s = finalPlan("q_stratified_sample")
    assert(s.contains("WindowGroupLimit"),
      s"per-group rank filter did not plan a partial group limit:\n$s")
  }

  test("q_dedup_incremental anti-joins on the digest (no text past the scan, no cartesian)") {
    val s = finalPlan("q_dedup_incremental")
    assert(s.contains("LeftAnti"),
      s"canon exclusion did not plan an anti-join:\n$s")
    assert(!s.contains("CartesianProduct"),
      s"snapshot dedup degenerated to all-pairs:\n$s")
  }

  test("q_token_budget runs the doc-level window at (lang, bucket) grain with broadcast offsets") {
    val s = finalPlan("q_token_budget")
    assert("windowspecdefinition\\(lang#\\d+, bucket#\\d+".r.findFirstIn(s).isDefined,
      s"doc-level prefix sum is not bucket-partitioned (per-lang hot-key window):\n$s")
    assert(s.contains("BroadcastHashJoin"),
      s"bucket offsets did not broadcast:\n$s")
  }

  test("q_eval_contamination broadcasts the eval gram set (corpus side never shuffles for membership)") {
    val s = finalPlan("q_eval_contamination")
    assert(s.contains("BroadcastHashJoin"),
      s"eval-gram membership join is not broadcast:\n$s")
    assert(!s.contains("CartesianProduct"),
      s"contamination check degenerated to all-pairs:\n$s")
  }

  test("q_join_range_fact buckets the range predicate into an equi-join") {
    val s = finalPlan("q_join_range_fact")
    assert(!s.contains("CartesianProduct") &&
           !s.contains("BroadcastNestedLoopJoin"),
      s"fact-fact interval join planned a nested loop:\n$s")
    assert(s.contains("BroadcastHashJoin") || s.contains("SortMergeJoin") ||
           s.contains("ShuffledHashJoin"),
      s"no equi-join in the bucketed interval plan:\n$s")
  }

  test("q_join_salted spreads the join key: equi-join on (key, salt), no single partition") {
    val s = finalPlan("q_join_salted")
    assert(!s.contains("Exchange SinglePartition"),
      s"salted join collapsed to one partition:\n$s")
    assert(s.contains("BroadcastHashJoin") || s.contains("SortMergeJoin") ||
           s.contains("ShuffledHashJoin"),
      s"salted join lost its equi-key:\n$s")
  }

  test("q_correlated_subquery decorrelates to equi-joins (no per-row re-execution shape)") {
    // DecorrelateInnerQuery must rewrite each correlated aggregate into a
    // groupBy(status) + equi-join on the correlation key; a nested loop or
    // cartesian here would mean the subquery re-runs per outer row.
    val s = finalPlan("q_correlated_subquery")
    assert(!s.contains("CartesianProduct"),
      s"correlated subquery degenerated to a cartesian product:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin"),
      s"correlated subquery planned a nested loop:\n$s")
    assert(s.contains("BroadcastHashJoin") || s.contains("SortMergeJoin") ||
           s.contains("ShuffledHashJoin"),
      s"no equi-join in the decorrelated plan:\n$s")
  }

  test("q_join_range broadcasts the band table (fact side never shuffles for the join)") {
    val s = finalPlan("q_join_range")
    assert(s.contains("BroadcastNestedLoopJoin"),
      "band join should be a broadcast nested loop (non-equi, tiny build side)")
    assert(!s.contains("CartesianProduct"),
      "band join degenerated to a cartesian product")
  }

  test("q_agg_salted spreads the hot keys: both phases are multi-partition") {
    val s = finalPlan("q_agg_salted")
    assert(!s.contains("Exchange SinglePartition"),
      "salted aggregation collapsed to one partition")
    assert(s.toLowerCase.contains("partial"),
      "no partial aggregate in the salted plan")
  }

  test("q_bitwise_funcs aggregates are two-phase (bit reductions are mergeable)") {
    val s = finalPlan("q_bitwise_funcs")
    assert(s.contains("HashAggregate") && s.toLowerCase.contains("partial"))
  }

  test("q_seq_pack streams: partition-local sort feeding MapPartitions, no per-group buffering") {
    // r6 verdict item 1: the flatMapGroups form buffered each lang group in
    // one task (`it.toSeq.sortBy`) — OOM on a hot lang at corpus scale. The
    // streamed form is repartition(lang) + sortWithinPartitions + a linear
    // mapPartitions pass; its plan signature is a NON-global Sort (the
    // `false` flag) directly under the object map, and no single-partition
    // funnel anywhere.
    val s = finalPlan("q_seq_pack")
    assert(!s.contains("Exchange SinglePartition"),
      s"q_seq_pack funnels all rows through one partition:\n$s")
    assert("Sort \\[lang[^\\]]*doc_id[^\\]]*\\], false".r.findFirstIn(s).isDefined,
      s"q_seq_pack lost its partition-local (lang, doc_id) sort:\n$s")
    assert(s.contains("MapPartitions"),
      s"q_seq_pack no longer runs the linear mapPartitions pass:\n$s")
  }

  test("q_batch_assignment streams each producer: Spark sorts (user_id, tsMicros, event_id) under the group map") {
    // the per-producer scan must not buffer a producer's whole history in
    // a task's heap (`it.toSeq.sortBy`): the order comes from a spillable
    // SortExec on the grouping key plus the scan order, directly under
    // the MapGroups node
    val plan = finalPlan("q_batch_assignment").split("== Initial Plan ==")(0)
    val lines = plan.linesIterator.toSeq
    val at = lines.indexWhere(_.contains("MapGroups"))
    assert(at >= 0, s"q_batch_assignment lost its MapGroups node:\n$plan")
    val sort = lines.drop(at + 1).find(_.contains("Sort ["))
    assert(sort.exists(("Sort \\[user_id#\\d+L? ASC NULLS FIRST, " +
        "tsMicros#\\d+L? ASC NULLS FIRST, event_id#\\d+L? ASC NULLS FIRST\\]")
        .r.findFirstIn(_).isDefined),
      s"no (user_id, tsMicros, event_id) sort under MapGroups:\n$plan")
  }

  test("q_ann_ivf nested-loop joins only against the broadcast centroids") {
    // the 16-row centroid cross joins are deliberate broadcast BNLJs; the
    // corpus-side list lookup and top-k must stay equi-joins
    val s = finalPlan("q_ann_ivf")
    assert(!s.contains("CartesianProduct"))
    val bnlj = "BroadcastNestedLoopJoin BuildRight".r.findAllIn(s).size
    val bnljAll = "BroadcastNestedLoopJoin".r.findAllIn(s).size
    assert(bnlj == bnljAll, "non-broadcast nested loop join in IVF plan")
  }

  test("q_ann_recall shares one candidate frame across the nprobe sweep") {
    // the five per-nprobe top-k branches must all read the ONE
    // localCheckpointed candidate RDD (plus the exact arm's probe
    // broadcast) — a re-derived candidate lineage would scan the corpus
    // once per nprobe setting
    val s = finalPlan("q_ann_recall").split("== Initial Plan ==")(0)
    assert(!s.contains("CartesianProduct"))
    val bnlj = "BroadcastNestedLoopJoin BuildRight".r.findAllIn(s).size
    val bnljAll = "BroadcastNestedLoopJoin".r.findAllIn(s).size
    assert(bnlj == bnljAll,
      "non-broadcast nested loop join in the recall plan")
    // embeddings parquet feeds the exact arm; the sweep itself must come
    // from Scan ExistingRDD (the candidate checkpoint), each of the 5
    // branches reading it once. The r15 trained-centroid checkpoint is
    // invisible here by design: its two consumers (assignment + probe
    // routing) live INSIDE the candidate build, so the cand checkpoint
    // absorbs that lineage and the final plan never re-runs the training.
    val rdd = s.linesIterator.count(l => l.contains("Scan ExistingRDD") &&
      !l.contains("ReusedExchange"))
    // 5 sweep reads of the candidate checkpoint + 2 reads of the exact
    // arm's checkpoint (r19 opt: the brute-force arm feeds the hit join
    // AND the denominator count — both now read the one materialized
    // frame instead of re-running the corpus pass + top-k window each)
    assert(rdd == 7, s"nprobe sweep reads the checkpoint $rdd times (want 7):\n$s")
  }

  test("q_sessionize is ONE shuffle by user: windows and session agg share the partitioning") {
    // HashPartitioning(user_id) from the window satisfies the
    // (user_id, sess_id) groupBy's clustered distribution — the agg must
    // NOT re-shuffle; the only other exchange is the output sort's range
    // partition.
    val s = finalPlan("q_sessionize").split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1,
      s"sessionize should shuffle exactly once (by user_id):\n$s")
  }

  test("q_pmi_bigrams broadcasts only the 1-row totals (vocab joins stay equi-joins)") {
    val s = finalPlan("q_pmi_bigrams").split("== Initial Plan ==")(0)
    assert(!s.contains("CartesianProduct"), "PMI planned an all-pairs join")
    // since the single-scan rewrite both corpus totals ride in as ONE
    // 1-row broadcast nested loop; any additional BNLJ means a vocab join
    // lost its equi-key
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(s).size
    assert(bnlj == 1, s"expected exactly the one 1-row totals broadcast, got $bnlj")
  }

  test("q_doc_chunk is one Generate over one scan — no shuffle before the sort") {
    val s = finalPlan("q_doc_chunk").split("== Initial Plan ==")(0)
    assert(s.contains("Generate"), "chunking should compile to one Generate")
    assert(s.linesIterator.count(_.contains("FileScan parquet")) == 1,
      "doc_chunk reads more than one scan")
    assert(!s.contains("Exchange hashpartitioning"),
      "doc_chunk shuffled before the output sort — the stage should be narrow")
  }

  test("q_dedup_cluster_rep: rank join moves (doc_id, n_chars) only, no cartesian") {
    val s = finalPlan("q_dedup_cluster_rep")
    assert(!s.contains("CartesianProduct"),
      "cluster-rep degenerated to an all-pairs join")
    // the stats side of the rank join prunes documents to (doc_id, n_chars)
    // — text must never ride through the window
    val prunedScan = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(s)
      .map(_.group(1).split(",").map(_.split(":")(0).trim).toSet)
      .exists(cols => cols == Set("doc_id", "n_chars"))
    assert(prunedScan,
      s"no documents scan pruned to exactly (doc_id, n_chars):\n$s")
  }

  test("scan + exchange budgets hold on the five most expensive text keys") {
    // r10 verdict item 4: these four keys dominate the bench; their plans
    // were audited as "the scale plan" at r10, and these budgets freeze
    // that audit. A refactor that adds a second text scan (e.g. dropping a
    // signature localCheckpoint) or an extra shuffle fails HERE, not in a
    // bench round two days later. Counts are plan NODES (see nodeBudget).
    // simhash: text scan fully amortized through the signature checkpoint
    // (0 visible file scans); one band-bucket shuffle
    nodeBudget("q_dedup_simhash", fileScanMax = 0, rddScanMax = 2, hashExMax = 1)
    // fingerprint: one text scan, one per-doc agg shuffle
    nodeBudget("q_doc_fingerprint", fileScanMax = 1, rddScanMax = 0, hashExMax = 1)
    // ngram (re-audited r19 opt): the gram pipeline + its rare slice are
    // lazily checkpointed — zero text scans survive in the plan; the five
    // gram consumers and the rare self-join read the two materialized
    // RDDs (3 + 2 scans), five real shuffles remain
    nodeBudget("q_dedup_ngram", fileScanMax = 0, rddScanMax = 5, hashExMax = 5)
    // cluster-rep: one pruned documents scan + the shared sig checkpoint
    nodeBudget("q_dedup_cluster_rep", fileScanMax = 1, rddScanMax = 1, hashExMax = 1)
    // containment (re-audited r19 opt): the q_dedup_ngram profile — the
    // checkpointed gram frame + rare slice replace both text scans
    nodeBudget("q_containment", fileScanMax = 0, rddScanMax = 5, hashExMax = 5)
  }

  test("scan + exchange budgets hold on the r11 triangle/bootstrap keys") {
    // triangle: zero file scans — all three pair reads must come from the
    // ONE checkpointed RDD (a lazy read re-runs the whole minhash
    // pipeline per join side); wedge join + closing semi + membership agg
    nodeBudget("q_triangle_count", fileScanMax = 0, rddScanMax = 3,
               hashExMax = 5)
    // bootstrap: ONE orders scan feeds all 32 replicas (the one-pass
    // claim IS this budget — a literal resample reads the table B times);
    // the only shuffle is the ≤ B-rows-per-row per-replica agg
    // +1 exchange r16: the explicit REPARTITION_BY_NUM that spreads the
    // h60 + 32-way resample-weight evaluation off the single-row-group
    // scan task (the shingleHashes spread discipline)
    nodeBudget("q_bootstrap_ci", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 2)
    // dedup_recall: zero file scans — the checkpointed shingle frame
    // feeds the signature chain AND both truth-join sides, the
    // checkpointed signature frame feeds both band sides and the sizes;
    // the ONLY nested-loop join is the deliberate 5-row broadcast
    // threshold cross join (the q_ann_ivf centroid discipline), and every
    // pair-grain exchange is digest/id-sized, never text-sized
    locally {
      val s = finalPlan("q_dedup_recall").split("== Initial Plan ==")(0)
      assert(!s.contains("CartesianProduct"))
      val bnlj = "BroadcastNestedLoopJoin BuildRight".r.findAllIn(s).size
      val bnljAll = "BroadcastNestedLoopJoin".r.findAllIn(s).size
      assert(bnlj == bnljAll,
        "non-broadcast nested loop join in the recall plan")
      assert(s.linesIterator.count(_.contains("FileScan parquet")) == 0,
        s"q_dedup_recall re-scanned text instead of the checkpoints:\n$s")
      assert(s.linesIterator.count(l => l.contains("Scan ExistingRDD") &&
        !l.contains("ReusedExchange")) <= 6)
    }
  }

  test("scan + exchange budgets hold on the r11 ML-prep/analytics packs") {
    // single-scan event-window keys: the fact table is read ONCE and the
    // only real shuffles are the user/type partitioning + final agg
    nodeBudget("q_ewma", fileScanMax = 1, rddScanMax = 0, hashExMax = 2)
    nodeBudget("q_attribution", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 2)
    nodeBudget("q_changepoint", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 2)
    nodeBudget("q_path_mining", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 3)
    nodeBudget("q_ab_ttest", fileScanMax = 1, rddScanMax = 0, hashExMax = 1)
    // the one-pass-moments claim: one scan, one agg exchange, however
    // many statistics ride on the moment frame
    nodeBudget("q_corr_matrix", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 1)
    nodeBudget("q_linreg", fileScanMax = 1, rddScanMax = 0, hashExMax = 1)
    // chi-square gets a custom budget below (its r×c grid cross join is
    // a deliberate tiny BNLJ, which nodeBudget's blanket ban rejects)
    // customer-grain agg + broadcast dim + per-segment rank + final agg
    nodeBudget("q_gini", fileScanMax = 2, rddScanMax = 0, hashExMax = 3)
    nodeBudget("q_time_weighted_avg", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 2)
    // one explode + one (two-level, for the exact distinct) agg
    nodeBudget("q_feature_hash", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 2)
    nodeBudget("q_kfold", fileScanMax = 1, rddScanMax = 0, hashExMax = 2)
    nodeBudget("q_embed_centroid", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 1)
    // stats/sweep frame + fact join-back: two scans, stats exchange only
    nodeBudget("q_feature_scale", fileScanMax = 2, rddScanMax = 0,
               hashExMax = 1)
    nodeBudget("q_skyline", fileScanMax = 2, rddScanMax = 0, hashExMax = 1)
    // bloom prefilter: the checkpointed build key column feeds all three
    // consumers (count, bloom treeAggregate, semi-join build) — exactly
    // ONE parquet scan may remain (the probe-side lineitem read); a
    // second one means the orders build lineage re-derived (the r11
    // triple-scan weak finding)
    nodeBudget("q_bloom_prefilter", fileScanMax = 1, rddScanMax = 1,
               hashExMax = 2)
    // r14: the probe is Catalyst's codegen'd might_contain over a binary
    // literal — a Scala UDF here would drop the probe filter out of
    // whole-stage codegen and cost a per-row invocation at 100 TB
    locally {
      val bloomPlan = finalPlan("q_bloom_prefilter")
        .split("== Initial Plan ==")(0)
      assert(bloomPlan.contains("might_contain"),
        s"bloom probe lost the Catalyst expression:\n$bloomPlan")
      assert(!bloomPlan.contains("UDF"),
        s"bloom probe fell back to a Scala UDF:\n$bloomPlan")
    }
    // one scan, digests-only shuffle into the per-hash window
    nodeBudget("q_dedup_passage", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 1)
    // one scan; two-level agg for the exact distinct-host count; the
    // share window is a SinglePartition exchange over |domains| rows
    nodeBudget("q_domain_stats", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 2)
    // final plan = union of the 5 checkpointed 1-row top-pair frames;
    // the per-round pair counts and rewrites live behind those RDDs —
    // more RDD scans or any parquet scan here means a re-derived lineage
    nodeBudget("q_bpe_merges", fileScanMax = 0, rddScanMax = 5,
               hashExMax = 0)
    // the whole audit is ONE conditional-agg pass (multi-distinct =
    // one Expand, one mid hash exchange; finals are SinglePartition)
    nodeBudget("q_snapshot_drift", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 1)
  }

  test("scan + exchange budgets hold on the r13 model-eval pack") {
    // bin-at-the-scan keys: one fact pass + one grid agg; the
    // reliability/PSI windows run over ≤10 rows (SinglePartition, not a
    // hash exchange); psi's 1-row min/max frame is a second scan by
    // design (broadcast back, never a fact shuffle)
    nodeBudget("q_calibration", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 1)
    // psi's 1-row min/max frame joins in as a deliberate broadcast BNLJ
    // (the q_scalar_subquery pattern — nodeBudget's blanket ban would
    // reject it): two scans by design, one grid agg shuffle, and the
    // fact side must never shuffle for the range
    val psi = finalPlan("q_psi").split("== Initial Plan ==")(0)
    def psiNodes(m: String) = psi.linesIterator
      .count(l => l.contains(m) && !l.contains("ReusedExchange"))
    assert(psi.contains("BroadcastNestedLoopJoin"),
      s"q_psi must broadcast the 1-row range frame:\n$psi")
    assert(psiNodes("FileScan parquet") <= 2 &&
           psiNodes("Exchange hashpartitioning") <= 1 &&
           !psi.contains("CartesianProduct"),
      s"q_psi budget blown:\n$psi")
    nodeBudget("q_benford", fileScanMax = 1, rddScanMax = 0, hashExMax = 1)
    // collapse-then-sweep: one fact scan, one score-grain agg; the
    // ordered sweep + decile agg run on the collapsed grain
    nodeBudget("q_lift_curve", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 2)
    // one user-grain agg + one duration-grain agg — the life-table
    // sweep itself is calendar-sized
    nodeBudget("q_survival_km", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 2)
    // calendar-grain keys: one scan + the day/month agg; rank windows
    // repartition the tiny grain (2 tie-group partitions for spearman)
    nodeBudget("q_spearman", fileScanMax = 1, rddScanMax = 0, hashExMax = 3)
    nodeBudget("q_yoy_growth", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 1)
    nodeBudget("q_ntile_bins", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 2)
    // closed form: one dim scan, one ancestor-key agg — no join, no
    // iteration
    nodeBudget("q_hierarchy_rollup", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 1)
    // cohort assignment + purchase re-agg + distinct-buyer expand over
    // the ONE user_id window shuffle; sizes ride back broadcast
    nodeBudget("q_cohort_ltv", fileScanMax = 2, rddScanMax = 0,
               hashExMax = 6)
    // one grid agg; prior/encoding windows run over |categories| rows
    nodeBudget("q_target_encode", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 1)
    // woe_iv shares psi's deliberate 1-row-range BNLJ — custom budget
    val woe = finalPlan("q_woe_iv").split("== Initial Plan ==")(0)
    def woeNodes(m: String) = woe.linesIterator
      .count(l => l.contains(m) && !l.contains("ReusedExchange"))
    assert(woe.contains("BroadcastNestedLoopJoin"),
      s"q_woe_iv must broadcast the 1-row range frame:\n$woe")
    assert(woeNodes("FileScan parquet") <= 2 &&
           woeNodes("Exchange hashpartitioning") <= 1 &&
           !woe.contains("CartesianProduct"),
      s"q_woe_iv budget blown:\n$woe")
    // ONE user_id shuffle feeds the rank window AND the user-grain agg
    nodeBudget("q_ranking_metrics", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 2)
    // the checkpointed word-array/bigram frames stand in for the text
    // scan (0 parquet scans); st feeds sc + both count frames; the 1-row
    // vocab frame broadcasts as the deliberate BNLJ (psi pattern)
    val lm = finalPlan("q_ngram_lm").split("== Initial Plan ==")(0)
    def lmNodes(m: String) = lm.linesIterator
      .count(l => l.contains(m) && !l.contains("ReusedExchange"))
    assert(lm.contains("BroadcastNestedLoopJoin"),
      s"q_ngram_lm must broadcast the 1-row vocab frame:\n$lm")
    assert(lmNodes("FileScan parquet") == 0 &&
           lmNodes("Scan ExistingRDD") <= 5 &&
           lmNodes("Exchange hashpartitioning") <= 8 &&
           !lm.contains("CartesianProduct"),
      s"q_ngram_lm budget blown:\n$lm")
    // final plan = union of the per-level checkpointed frontiers (≤ 22
    // at the depth bound); joins live behind the checkpoints
    nodeBudget("q_tree_paths", fileScanMax = 0, rddScanMax = 22,
               hashExMax = 0)
  }

  test("third r13 pack: clustering/graph/statistics/profiling budgets") {
    // kmeans: the deliberate BNLJ is the ONE-ROW broadcast centroid
    // frame (the woe/psi pattern) — assignment itself is narrow array
    // math; the only hash exchanges are the k×d grid agg(s); the final
    // assign pass reads embeddings once (c1 rides as a checkpointed RDD)
    val km = finalPlan("q_kmeans").split("== Initial Plan ==")(0)
    def kmNodes(m: String) = km.linesIterator
      .count(l => l.contains(m) && !l.contains("ReusedExchange"))
    assert(km.contains("BroadcastNestedLoopJoin"),
      s"q_kmeans must broadcast the 1-row centroid frame:\n$km")
    assert(kmNodes("FileScan parquet") <= 1 &&
           kmNodes("Exchange hashpartitioning") <= 2 &&
           !km.contains("CartesianProduct"),
      s"q_kmeans budget blown:\n$km")
    // sssp: the final frame is the checkpointed round-3 dist — joins and
    // unions live behind the checkpoints (the pagerank discipline)
    nodeBudget("q_sssp", fileScanMax = 0, rddScanMax = 1, hashExMax = 0)
    // mutual info: one scan into the r×c grid; margin windows re-hash
    // the 6-row grid only
    nodeBudget("q_mutual_info", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 3)
    // seasonality: one scan, day-grain agg, dow re-agg — grid windows
    // run single-partition
    nodeBudget("q_seasonality", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 2)
    // winsorize (re-audited r20 two-phase rank): the banded ranked frame
    // is checkpointed once (the (rf, band) window lives inside it) and
    // read by the bounds filter and the final clamp/trim agg; the tiny
    // band-count frame is checkpointed once and read by the offset
    // window and the sizes agg — 4 RDD reads total, zero file re-scans
    // (the 4th exchange is the prefix-offset window over the band-count
    // frame — |groups × bands| rows; every exchange here is group- or
    // band-grain, never fact-grain)
    nodeBudget("q_winsorize", fileScanMax = 0, rddScanMax = 4,
               hashExMax = 4)
    // schema profile: one single-column scan per profiled column (the
    // columnar-honest shape — same bytes as a combined scan, no
    // multi-distinct Expand); one distinct-partial exchange per column
    nodeBudget("q_schema_profile", fileScanMax = 4, rddScanMax = 0,
               hashExMax = 4)
    // ngram coverage: vocab derivation + coverage pass + n_docs pass
    // (three PRUNED scans); the vocab probe join must be broadcast
    nodeBudget("q_ngram_coverage", fileScanMax = 3, rddScanMax = 0,
               hashExMax = 4)
    // forecast: two day-grain derivations of the same agg + the
    // calendar self-join; windows run single-partition over the grid
    nodeBudget("q_forecast_naive", fileScanMax = 2, rddScanMax = 0,
               hashExMax = 4)
    // effect size: one scan, one global conditional-moment agg — the
    // only exchange is the single-partition final-agg gather
    nodeBudget("q_effect_size", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 0)
    // quantile bands: day-grain agg, then the wk window + wk re-agg
    nodeBudget("q_quantile_bands", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 3)
    // impute: ONE event_type shuffle shared by the rank window, the
    // median lookup, and the final agg
    nodeBudget("q_impute", fileScanMax = 1, rddScanMax = 0, hashExMax = 1)
    // negative sample: the deliberate BNLJs are the 2-row draw frame and
    // the 1-row part count (psi pattern); the positive set is
    // checkpointed ONCE (both consumers read the RDD — a re-derived
    // join+distinct lineage here would cost an extra exchange pair),
    // leaving the (u, neg)≡(u, it) collision-join exchanges + the grid agg
    val ns = finalPlan("q_negative_sample").split("== Initial Plan ==")(0)
    def nsNodes(m: String) = ns.linesIterator
      .count(l => l.contains(m) && !l.contains("ReusedExchange"))
    assert(ns.contains("BroadcastNestedLoopJoin"),
      s"q_negative_sample must broadcast the draw/count frames:\n$ns")
    assert(nsNodes("FileScan parquet") <= 1 &&
           nsNodes("Scan ExistingRDD") <= 2 &&
           nsNodes("Exchange hashpartitioning") <= 3 &&
           !ns.contains("CartesianProduct"),
      s"q_negative_sample budget blown:\n$ns")
    // interval union: one customer-keyed shuffle carries both windows
    // and the island agg; the segment dim joins after the collapse
    nodeBudget("q_interval_union", fileScanMax = 2, rddScanMax = 0,
               hashExMax = 3)
    // pr_auc: one scan into the score-grain collapse; the sweep and the
    // final total run single-partition over the grain
    nodeBudget("q_pr_auc", fileScanMax = 1, rddScanMax = 0, hashExMax = 1)
    // mann-whitney: one scan into the value-grain collapse; prefix-sum
    // ranks and the moment agg run over the grain
    nodeBudget("q_mann_whitney", fileScanMax = 1, rddScanMax = 0,
               hashExMax = 1)
  }

  test("checkpointed graph keys read the edge grain once (no fact re-scan)") {
    // degree_dist: BOTH side aggregations must come off the one
    // checkpointed edge RDD — a FileScan here means a consumer re-derived
    // the lineitem⋈orders lineage
    nodeBudget("q_degree_dist", fileScanMax = 0, rddScanMax = 2,
               hashExMax = 4)
    // bfs: only the (tiny) customer seed may touch parquet; the fact-side
    // tables live exclusively inside the checkpoint
    val s = finalPlan("q_bfs_hops").split("== Initial Plan ==")(0)
    assert(!s.contains("lineitem.parquet") && !s.contains("orders.parquet"),
      s"bfs frontier rounds re-derived the fact lineage:\n$s")
    assert(!s.contains("CartesianProduct"),
      s"bfs frontier join degenerated:\n$s")
  }

  test("q_chi_square: one fact scan inside the checkpoint; the only " +
       "nested loop is the r×c grid build") {
    val s = finalPlan("q_chi_square").split("== Initial Plan ==")(0)
    def nodes(m: String) = s.linesIterator
      .count(l => l.contains(m) && !l.contains("ReusedExchange"))
    assert(nodes("FileScan parquet") == 0,
      s"grid sides re-scanned the fact table:\n$s")
    assert(nodes("Scan ExistingRDD") <= 3,
      s"a consumer re-derived the crosstab lineage:\n$s")
    assert(!s.contains("CartesianProduct"),
      s"grid build degenerated:\n$s")
    assert(nodes("BroadcastNestedLoopJoin") <= 1,
      s"unexpected nested loop beyond the tiny grid cross join:\n$s")
  }

  test("q_basket_lift: pair join stays basket-keyed off one checkpointed " +
       "item grain") {
    val s = finalPlan("q_basket_lift").split("== Initial Plan ==")(0)
    def nodes(m: String) = s.linesIterator
      .count(l => l.contains(m) && !l.contains("ReusedExchange"))
    assert(nodes("FileScan parquet") == 0,
      s"basket consumers re-scanned lineitem:\n$s")
    assert(!s.contains("CartesianProduct"),
      s"pair generation went all-pairs:\n$s")
    // the ONLY nested-loop allowed is the 1-row basket-count broadcast
    assert(nodes("BroadcastNestedLoopJoin") <= 1,
      s"unexpected nested loop beyond the 1-row N broadcast:\n$s")
  }

  test("q_funnel_window pushes each step's event_type into its scan") {
    val s = finalPlan("q_funnel_window").split("== Initial Plan ==")(0)
    for (step <- Seq("signup", "view", "purchase"))
      assert(s.contains(s"EqualTo(event_type,$step)"),
        s"$step filter not pushed to parquet:\n$s")
  }

  test("q_agg_incremental pushes both shipdate bounds into the parquet scans") {
    // the incremental-refresh claim IS these two pushed predicates: at
    // 100 TB the state branch prunes to the materialized history read and
    // the delta branch to one partition — a post-scan filter would read
    // the full table twice
    val plan = finalPlan("q_agg_incremental")
    assert(plan.contains("LessThan(l_shipdate"),
      s"state-branch shipdate bound not pushed:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"),
      s"delta-branch shipdate bound not pushed:\n$plan")
  }

  test("per-group top-k keys keep their partial group limit (WindowGroupLimit)") {
    // QueryPack.topK writes the row_number + rn <= k filter Spark plans as
    // a partial limit before the window shuffle; every top-k key that
    // planned one before the helper still does
    for (key <- Seq("q_tfidf", "q_similarity_topk", "q_stratified_sample",
        "q_stream_topk", "q_topk_per_group", "q_lang_id", "q_ann_ivf",
        "q_ann_recall")) {
      val s = finalPlan(key).split("== Initial Plan ==")(0)
      assert(s.contains("WindowGroupLimit"),
        s"$key lost its partial group limit:\n$s")
    }
  }

  test("argmax keys pick with a mergeable aggregate, not a window") {
    // QueryPack.argmaxBy: no Window ranks the pick's group, and the
    // partial min/max(struct) runs before the exchange to the final one
    def pinned(key: String, pickGroup: String, mapSide: Boolean): String = {
      val s = finalPlan(key).split("== Initial Plan ==")(0)
      assert(!s.contains(s"windowspecdefinition($pickGroup#"),
        s"$key ranks its $pickGroup pick with a window:\n$s")
      if (mapSide) {
        val lines = s.linesIterator.toIndexedSeq
        val fin = lines.indexWhere(_.matches(".*functions=\\[m(in|ax)\\(struct\\(.*"))
        val part = lines.indexWhere(_.matches(".*partial_m(in|ax)\\(struct\\(.*"), fin)
        assert(fin >= 0 && part > fin &&
            lines.slice(fin, part).exists(_.contains("Exchange hashpartitioning")),
          s"$key: no partial argmax below the exchange:\n$s")
      }
      s
    }
    pinned("q_median_mode", "l_returnflag", mapSide = true)
    pinned("q_dedup_cluster_rep", "comp", mapSide = true)
    pinned("q_lang_id", "doc_id", mapSide = true)
    // best cosine first is max's own order: the |V| x nLists fan-out
    // carries cc with no null or NaN flag
    val ivf = pinned("q_ann_ivf", "vec_id", mapSide = true)
    assert(ivf.contains("partial_max(struct(") && !ivf.contains("isnan"),
      s"q_ann_ivf's assignment struct carries flags:\n$ivf")
    // the recall sweep's assignment runs inside its checkpointed candidate
    // build (the q_ann_ivf code path), so only the window's absence shows
    pinned("q_ann_recall", "vec_id", mapSide = false)
    // the CUSUM windows already partition by event_type, so the pick's
    // partial and final aggregates share their stage: no extra shuffle,
    // and only the |sdev| ranking window is gone
    val cp = finalPlan("q_changepoint").split("== Initial Plan ==")(0)
    assert(cp.contains("partial_min(struct("),
      s"q_changepoint picks without the argmax aggregate:\n$cp")
    // the CUSUM windows order by day ascending; the old pick ranked by
    // |sdev| DESC under a one-row WindowGroupLimit
    assert(!cp.contains("WindowGroupLimit") &&
        "windowspecdefinition\\(event_type#\\d+, \\S+ DESC".r.findFirstIn(cp).isEmpty,
      s"q_changepoint ranks |sdev| with a window:\n$cp")
  }
}
