package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Regression pins for the plan shapes SURVEY §8 documents — the
  * properties that make these the 100×-scale plans. Each assertion runs
  * the query first so AQE finalizes the plan it actually executed. The
  * suite runs on [[ScalePath]], because the sf0.001 data it reads would
  * otherwise take the small-input single-stage plan. */
class PlanShapeSpec extends AnyFunSuite with ScalePath {
  import TestSession._

  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
  }

  // AQE-aware: descends into query stages (a naive collect over
  // ShuffleExchangeExec sees nothing under AQE and pins vacuously)
  private def shuffles(p: SparkPlan): Int = TestSession.shuffleCount(p)

  test("the counter itself sees exchanges (positive control)") {
    // a plain groupBy over raw parquet MUST show its aggregation shuffle;
    // if this fails, every <= N pin below is meaningless
    import org.apache.spark.sql.functions._
    val df = Tables.events(spark, sfDir).groupBy("event_type").count()
    assert(shuffles(finalPlan(df)) >= 1)
  }

  test("q5_region_volume: every join broadcasts; one agg exchange + output sort") {
    val p = finalPlan(SparkEntry.queries("q5_region_volume")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"dimension join fell out of broadcast:\n$s")
    assert(s.contains("BroadcastHashJoin"))
    // one aggregation exchange + the contractual ORDER BY range exchange
    assert(shuffles(p) <= 2, s"unexpected extra exchanges:\n$s")
  }

  test("audit_snapshot: one data exchange (shared entity window) + output sort") {
    val p = finalPlan(SparkEntry.queries("audit_snapshot")(spark, sfDir))
    assert(shuffles(p) <= 2, s"snapshot gained an exchange:\n$p")
  }

  test("audit_delta_old: backward and forward windows share one entity exchange") {
    val p = finalPlan(SparkEntry.queries("audit_delta_old")(spark, sfDir))
    // THREE shuffles is the honest floor: the shared entity window
    // exchange, the live-row side's own top-1 exchange (it then rides a
    // broadcast into the join), and the contractual output sort. The pin
    // guards the sharing: both reconstruction windows on ONE exchange.
    assert(shuffles(p) <= 3, s"delta_old window partitioning no longer shared:\n$p")
    assert(p.toString.contains("BroadcastHashJoin"), p.toString)
    // the forward scan must not be an UnboundedFollowing frame: Spark
    // re-aggregates the whole tail of the entity for every row of it
    assert(!p.toString.toLowerCase.contains("unboundedfollowing"),
      s"delta_old forward scan is quadratic per entity:\n$p")
  }

  test("audit_truncate_reset: stacked windows over a single data exchange") {
    val p = finalPlan(SparkEntry.queries("audit_truncate_reset")(spark, sfDir))
    // entity exchange + output sort; the T-set aggregation contributes a
    // tiny pre-broadcast exchange of one aggregated row
    assert(shuffles(p) <= 3, s"truncate_reset window stack split:\n$p")
  }

  test("audit_views_only: rebuild over the bucketed sink is shuffle-free") {
    // the op's fn writes the sink eagerly, then returns the lazy rebuild;
    // the bucketed scan satisfies every window's distribution, so the ONE
    // exchange left is the contractual output ORDER BY
    val p = finalPlan(SparkEntry.queries("audit_views_only")(spark, sfDir))
    assert(shuffles(p) <= 1, s"views-only rebuild gained a data exchange:\n$p")
  }

  // --- size-gated broadcast discipline -------------------------------
  // Policy (Relational.scala scaladoc): bounded dims (region/nation/
  // supplier) carry an explicit broadcast hint; sf-scaling tables
  // (customer, part) are joined UN-HINTED so AQE picks broadcast at small
  // SF and shuffle-hash at 100 TB. A forced hint on a scaling table is a
  // driver OOM AQE cannot override.

  private def hintedColumns(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        h.child.output.map(_.name)
    }.flatten

  test("broadcast policy positive control: q5's bounded dims ARE hinted") {
    // guards the negative assertions below against vacuously passing
    // because hint nodes stopped being visible in the analyzed plan
    val hints = hintedColumns(SparkEntry.queries("q5_region_volume")(spark, sfDir))
    assert(hints.exists(_.startsWith("s_")), s"supplier hint missing: $hints")
    assert(hints.exists(_.startsWith("n_")), s"nation hint missing: $hints")
    assert(hints.exists(_.startsWith("r_")), s"region hint missing: $hints")
  }

  private val scalingJoinQueries = Seq(
    "q3_shipping", "q_top_customers", "q_rollup_nation",
    "q_cust_distribution", "q_big_orders", "q_part_share", "q_brand_revenue",
    "q_trade_lanes")

  test("no broadcast hint on sf-scaling customer/part in any weak-listed query") {
    for (q <- scalingJoinQueries) {
      val bad = hintedColumns(SparkEntry.queries(q)(spark, sfDir))
        .filter(c => c.startsWith("c_") || c.startsWith("p_"))
      assert(bad.isEmpty, s"$q forces a broadcast hint on sf-scaling columns: $bad")
    }
  }

  test("un-hinted customer/part joins still broadcast at small SF (size gate works)") {
    for (q <- Seq("q3_shipping", "q_top_customers", "q_part_share",
        "q_big_orders", "q_brand_revenue")) {
      val p = finalPlan(SparkEntry.queries(q)(spark, sfDir))
      assert(p.toString.contains("BroadcastHashJoin"),
        s"$q fell out of broadcast at sf0.001 — size gate broken:\n$p")
    }
  }

  test("audit_views_typed: 6-field typed rebuild over the bucketed sink is shuffle-free") {
    // same zero-data-shuffle contract as audit_views_only, held at
    // realistic width: the bucketed scan feeds every stacked window of the
    // typed 6-column rebuild; the one exchange is the output ORDER BY
    val p = finalPlan(SparkEntry.queries("audit_views_typed")(spark, sfDir))
    assert(shuffles(p) <= 1, s"typed views rebuild gained a data exchange:\n$p")
  }

  test("audit_value_quantiles: rank window is bucketed, never |op|-partition full-feed") {
    // the round-4/5 scale-killer pin: exact ranks must come from the
    // (operation, bucket) window — |ops|×B bounded partitions — not a
    // row_number over PARTITION BY operation alone, which sorts the whole
    // 100 TB feed into ~4 partitions. The tiny offset windows (over the
    // |ops|×B bucket-count aggregate) legitimately partition by operation
    // alone, so the pin targets the row_number window specifically.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val p = finalPlan(SparkEntry.queries("audit_value_quantiles")(spark, sfDir))
    val windows = scala.collection.mutable.Buffer.empty[WindowExec]
    def walk(x: SparkPlan): Unit = x match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case w: WindowExec => windows += w; w.children.foreach(walk)
      case o => o.children.foreach(walk)
    }
    walk(p)
    val rankWindows = windows.filter(_.windowExpression.mkString.contains("row_number"))
    assert(rankWindows.nonEmpty, s"rank window not found in plan:\n$p")
    rankWindows.foreach { w =>
      assert(w.partitionSpec.length == 2 &&
        w.partitionSpec.map(_.toString).exists(_.contains("bucket")),
        s"full-feed rank window fell back to |op|-partitioning: " +
          s"${w.partitionSpec}\n$p")
    }
  }

  test("dedup_ngram_jaccard: candidate join reuses the df-cap window's partitioning") {
    val p = finalPlan(SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir))
    val s = p.toString
    // the inverted-index join must be an equi-join (hash or sort-merge on
    // the block+shingle key), never a nested-loop/cartesian shape
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("dedup_containment: equi-join candidates, no cartesian, no broadcast hint") {
    val df = SparkEntry.queries("dedup_containment")(spark, sfDir)
    val s = finalPlan(df).toString
    // same posture as dedup_ngram_jaccard: the inverted-index candidate
    // join must stay an equi-join on (block, shingle) — both sides scale
    // with the corpus, so neither may be pinned to the driver
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
          if h.hints.strategy.exists(_.toString.contains("BROADCAST")) => h
    }
    assert(hinted.isEmpty, s"dedup_containment gained a broadcast hint: $hinted")
  }

  test("emb_pca_power: no shuffle or join ever keys on vec_id") {
    val df = SparkEntry.queries("emb_pca_power")(spark, sfDir)
    val s = finalPlan(df).toString
    // the whole point of the fold-then-|dims|-groupBy shape: per-vector
    // work never shuffles — projections are array folds, every exchange
    // carries dim-keyed (≤ |dims| distinct) or 1-row frames
    assert(!s.contains("hashpartitioning(vec_id"),
      s"emb_pca_power gained a per-vector shuffle:\n$s")
    // the centered corpus is persisted (read by variance pass + 3 rounds)
    assert(s.contains("InMemoryTableScan"),
      s"centered corpus no longer persisted:\n$s")
  }

  test("emb_pca2: no shuffle or join ever keys on vec_id (deflation included)") {
    val df = SparkEntry.queries("emb_pca2")(spark, sfDir)
    val s = finalPlan(df).toString
    assert(!s.contains("hashpartitioning(vec_id"),
      s"emb_pca2 gained a per-vector shuffle:\n$s")
    assert(s.contains("InMemoryTableScan"),
      s"centered/deflated corpus no longer persisted:\n$s")
  }

  test("tfidf_keywords: df side is NOT force-broadcast (vocab scales with corpus)") {
    // the 1-row doc-count stats frame broadcasts; the per-term df table
    // must reach the tf ⋈ df join un-hinted — at small SF AQE may still
    // pick broadcast (fine, size-gated), but the LOGICAL plan must not
    // carry a ResolvedHint pinning |vocab| rows to the driver at 100 TB
    val df = SparkEntry.queries("tfidf_keywords")(spark, sfDir)
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    // exactly the one deliberate broadcast: the 1-row global doc count
    assert(hinted.length == 1, s"tfidf broadcast hints changed: $hinted")
    // the contribution join itself stays an equi-join shape
    val s = finalPlan(df).toString
    assert(!s.contains("CartesianProduct"), s)
  }

  test("chunk_overlap: digest self-correlation is an equi-join, never all-pairs") {
    val p = finalPlan(SparkEntry.queries("chunk_overlap")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    // (doc,digest) dedup, digest counts, the join back, per-doc rollup,
    // output sort — a k² pair expansion would add exchanges beyond this
    assert(shuffles(p) <= 5, s"chunk_overlap gained an exchange:\n$s")
  }

  test("corpus_temperature: one corpus scan; totals off the aggregate, not a re-scan") {
    val df = SparkEntry.queries("corpus_temperature")(spark, sfDir)
    val p = finalPlan(df)
    // lang-agg exchange + the tiny unpartitioned totals window (≤ |langs|
    // rows) + contractual output sort; the corpus reduces map-side first
    assert(shuffles(p) <= 3, s"corpus_temperature gained an exchange:\n$p")
    // exactly ONE scan of documents — a separate totals branch would
    // re-read and re-aggregate the full corpus (AQE-aware walk: scans
    // hide inside query stages)
    var scans = 0
    def walk(x: org.apache.spark.sql.execution.SparkPlan): Unit = x match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        scans += 1; f.children.foreach(walk)
      case o => o.children.foreach(walk)
    }
    walk(p)
    assert(scans == 1, s"corpus scanned ${scans}x:\n$p")
  }

  test("corpus_perplexity: unigram model is NOT force-broadcast (vocab scales)") {
    // same policy as tfidf_keywords: the 1-row token total broadcasts,
    // the per-term model table reaches the tf ⋈ model join un-hinted —
    // vocabulary grows with the corpus and a hint would pin it driver-side
    val df = SparkEntry.queries("corpus_perplexity")(spark, sfDir)
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.length == 1, s"perplexity broadcast hints changed: $hinted")
    assert(!finalPlan(df).toString.contains("CartesianProduct"))
  }

  test("audit_scd2: state and lead ride one shared entity exchange") {
    val p = finalPlan(SparkEntry.queries("audit_scd2")(spark, sfDir))
    // one (entity, audit_id) window exchange + contractual output sort —
    // a second window partitioning would betray a split plan
    assert(shuffles(p) <= 2, s"scd2 windows no longer share an exchange:\n$p")
  }

  test("boilerplate_ngrams: flagged-set join is an equi-join; only the source dim is hinted") {
    val df = SparkEntry.queries("boilerplate_ngrams")(spark, sfDir)
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    // exactly one deliberate hint: the per-source doc-count dimension;
    // the (source, gram) flagged set must stay un-hinted (it grows with
    // source count — AQE size-gates it instead)
    assert(hinted.length == 1, s"boilerplate broadcast hints changed: $hinted")
    val s = finalPlan(df).toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("vocab_growth: only the 1-row doc-count aggregate broadcasts") {
    val df = SparkEntry.queries("vocab_growth")(spark, sfDir)
    // exactly two deliberate hints, both the 1-row max(doc_id) aggregate
    // feeding the decile arithmetic — the (doc, term) stream and the
    // per-term first-doc table must reach their aggs un-hinted (vocab
    // and corpus both scale); the unpartitioned cum/total windows run on
    // the ≤ 10-row decile aggregate, never the raw feed
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.length == 2, s"vocab_growth broadcast hints changed: $hinted")
    assert(!finalPlan(df).toString.contains("CartesianProduct"))
  }

  test("oov_rate: train vocabulary is NOT force-broadcast (scales with corpus)") {
    val df = SparkEntry.queries("oov_rate")(spark, sfDir)
    // the distinct-term train vocabulary grows with the corpus — it must
    // reach the val ⋈ train probe un-hinted (AQE may still size-gate a
    // broadcast at small SF; that is the size gate's call, not a pin)
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.isEmpty, s"oov_rate gained a broadcast hint: $hinted")
    val s = finalPlan(df).toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("pmi_bigrams: only the two 1-row totals broadcast; unigram probes un-hinted") {
    val df = SparkEntry.queries("pmi_bigrams")(spark, sfDir)
    // the cx/cy probes join the unigram count table, which grows with the
    // corpus vocabulary — it must reach both joins un-hinted (AQE
    // size-gates); the only deliberate hints are the 1-row token and
    // bigram totals
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.length == 2, s"pmi_bigrams broadcast hints changed: $hinted")
    assert(!finalPlan(df).toString.contains("CartesianProduct"))
  }

  test("corpus_report: dup-digest join un-hinted; no hint anywhere") {
    val df = SparkEntry.queries("corpus_report")(spark, sfDir)
    // the md5-digest dup count joins two corpus-scaling sides — neither
    // may be pinned driver-side; the only window is the unpartitioned
    // token total over the ≤ |lang × source| aggregate
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.isEmpty, s"corpus_report gained a broadcast hint: $hinted")
    assert(!finalPlan(df).toString.contains("CartesianProduct"))
  }

  test("audit_rollback: only the 1-row cutoff broadcasts; every join keys on entity_id") {
    val df = SparkEntry.queries("audit_rollback")(spark, sfDir)
    // ONE deliberate hint — the 1-row midpoint aggregate (cloned per reuse
    // of `snap` in the analyzed tree); cur/pre/post are all
    // |entities|-bounded and must reach their joins un-hinted, so every
    // hinted subtree must be a global (no-grouping ⇒ 1-row) aggregate
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.nonEmpty && hinted.forall(_.child match {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.groupingExpressions.isEmpty
      case _ => false
    }), s"audit_rollback broadcast hints changed: $hinted")
    val s = finalPlan(df).toString
    assert(!s.contains("CartesianProduct"), s)
    // every window in the plan partitions by entity_id — no full-feed
    // single-partition window can hide here
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.map(_.references.map(_.name).mkString(",")).mkString("|")
    }
    assert(windows.nonEmpty && windows.forall(_.contains("entity_id")),
      s"rollback window partitioning drifted: $windows")
  }

  test("audit_concurrent_writers: one lag window on the shared entity exchange") {
    val p = finalPlan(SparkEntry.queries("audit_concurrent_writers")(spark, sfDir))
    // the (entity, audit_id) lag exchange + the contractual output sort
    assert(shuffles(p) <= 2, s"concurrent_writers gained an exchange:\n$p")
  }

  test("epoch_plan: one corpus scan; allocation math on the |langs| aggregate") {
    val df = SparkEntry.queries("epoch_plan")(spark, sfDir)
    val p = finalPlan(df)
    // lang-agg exchange + tiny unpartitioned totals window + output sort
    // (the corpus_temperature posture)
    assert(shuffles(p) <= 3, s"epoch_plan gained an exchange:\n$p")
    var scans = 0
    def walk(x: org.apache.spark.sql.execution.SparkPlan): Unit = x match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        scans += 1; f.children.foreach(walk)
      case o => o.children.foreach(walk)
    }
    walk(p)
    assert(scans == 1, s"epoch_plan corpus scanned ${scans}x:\n$p")
  }

  test("hybrid_rrf: only workload-bounded sides are hinted; no cartesian") {
    val df = SparkEntry.queries("hybrid_rrf")(spark, sfDir)
    // every deliberate hint is bounded by the query workload: the bm25
    // machine's qt / qTerms (pure LocalRelation), dft / 1-row stats
    // (aggregates), the ≤|queries| PRF seed set and the dense
    // query-vector side (both funnel through the top-k aggregate+window
    // machinery). A hinted subtree that is a bare projection over a
    // parquet scan — broadcasting the raw corpus/embedding feed — is the
    // regression this pins against.
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LeafNode, LocalRelation}
    def bounded(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.collectFirst { case _: Aggregate => () }.isDefined ||
        p.collect { case l: LeafNode => l }.forall(_.isInstanceOf[LocalRelation])
    assert(hinted.nonEmpty && hinted.forall(h => bounded(h.child)),
      s"hybrid_rrf hinted an unbounded side: $hinted")
    assert(!finalPlan(df).toString.contains("CartesianProduct"))
  }

  test("q_trade_lanes: shipdate filter reaches the lineitem scan; nation enters twice") {
    val df = SparkEntry.queries("q_trade_lanes")(spark, sfDir)
    val p = finalPlan(df)
    // the ship-window predicate must be pushed into the parquet scan, not
    // evaluated post-join
    val scans = p.toString
    assert(scans.contains("PushedFilters") && scans.contains("l_shipdate"),
      s"shipdate filter not pushed to the lineitem scan:\n$p")
    // both nation paths broadcast independently (supp and cust lanes)
    val nationScans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation
        if r.schema.fieldNames.contains("n_nationkey") => r
    }
    assert(nationScans.length == 2, s"nation dim must enter twice: $nationScans")
    assert(!scans.contains("CartesianProduct"))
  }

  test("pack_efficiency: window and aggregate share one source exchange") {
    // the tape window hash-partitions by source; the per-source aggregate
    // must reuse that distribution — one data exchange + the output sort
    val p = finalPlan(SparkEntry.queries("pack_efficiency")(spark, sfDir))
    assert(shuffles(p) <= 2, s"pack_efficiency gained an exchange:\n$p")
  }

  test("dedup_lsh_curve: pair-scale sides never broadcast; no cartesian") {
    val df = SparkEntry.queries("dedup_lsh_curve")(spark, sfDir)
    // the only deliberate hint is cappedPairStats' shuffle_hash — both the
    // exact-pair and band-pair sides scale with the corpus, so a broadcast
    // hint anywhere in this plan is a 100 TB OOM
    val strategies = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        h.hints.strategy
    }.flatten
    assert(strategies.nonEmpty &&
      strategies.forall(_ == org.apache.spark.sql.catalyst.plans.logical.SHUFFLE_HASH),
      s"dedup_lsh_curve hint policy drifted: $strategies")
    assert(!finalPlan(df).toString.contains("CartesianProduct"))
  }

  test("q_promo_share: conditional split rides ONE aggregate; part joins by size gate") {
    // promo and total revenue come from the same partial aggregate — a
    // second scan or self-join would double the fact-table cost
    val p = finalPlan(SparkEntry.queries("q_promo_share")(spark, sfDir))
    assert(p.toString.contains("BroadcastHashJoin"),
      s"un-hinted part join fell out of broadcast at sf0.001:\n$p")
    assert(shuffles(p) <= 2, s"q_promo_share gained an exchange:\n$p")
  }

  test("q_disjunctive: OR-of-ANDs factors into per-side pushed filters") {
    // Catalyst must extract the brand IN-list (part side) and the quantity
    // envelope (lineitem side) out of the three-arm disjunction — at 100 TB
    // this is the difference between scanning 3 brands and all of them
    val s = finalPlan(SparkEntry.queries("q_disjunctive")(spark, sfDir)).toString
    assert(s.contains("PushedFilters") && s.contains("p_brand"),
      s"brand disjunction not pushed to the part scan:\n$s")
    assert(s.contains("l_quantity"),
      s"quantity envelope not pushed to the lineitem scan:\n$s")
    assert(!s.contains("CartesianProduct"))
  }

  test("event_retention: cohort-size join broadcasts; no raw-feed window") {
    val df = SparkEntry.queries("event_retention")(spark, sfDir)
    val p = finalPlan(df)
    assert(p.toString.contains("BroadcastHashJoin"),
      s"bounded cohort side must broadcast:\n$p")
    // all heavy stages key on user_id then collapse — nothing windows the
    // raw feed, and the exchange count stays flat as the feed grows
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"event_retention grew a window: $windows")
    assert(shuffles(p) <= 6, s"event_retention exchange count grew:\n$p")
  }

  test("q_cube_volume: all four strata from one Expand + one agg exchange") {
    // the cube must be a single pass (Expand before the shuffle), never a
    // union of four separate aggregation jobs
    val p = finalPlan(SparkEntry.queries("q_cube_volume")(spark, sfDir))
    val s = p.toString
    assert(s.contains("Expand"), s"cube lost its Expand plan:\n$s")
    assert(!s.contains("Union"), s"cube degenerated into a union of aggregates:\n$s")
    assert(shuffles(p) <= 2, s"cube gained an exchange:\n$s")
  }

  test("split_leakage: membership probe is a semi-join; nothing is broadcast-hinted") {
    val df = SparkEntry.queries("split_leakage")(spark, sfDir)
    // both the train shingle set and the eval side scale with the corpus —
    // any broadcast hint here is a 100 TB OOM; semi-join means a shared
    // stopword-ish shingle contributes membership, never pair blowup
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"split_leakage grew a hint: $hints")
    assert(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
      "membership probe must stay a semi-join")
    assert(!finalPlan(df).toString.contains("CartesianProduct"))
  }

  test("audit_op_pivot: explicit pivot domain — one raw-data pass, bounded exchanges") {
    // pivot plans as partial (day, op) agg → exchange → pivotfirst →
    // exchange → sort: THREE exchanges, but only the first touches raw
    // data pre-aggregated map-side; the later two carry ≤ |days|×|ops|
    // rows. The pin guards the raw feed being aggregated before its one
    // exchange (a fourth exchange would mean a value-discovery job or a
    // lost partial agg).
    val p = finalPlan(SparkEntry.queries("audit_op_pivot")(spark, sfDir))
    assert(shuffles(p) <= 3, s"pivot gained an exchange:\n$p")
    assert(p.toString.contains("partial_count"),
      s"raw feed no longer aggregates map-side before its exchange:\n$p")
  }

  test("q_top_supplier: argmax via 1-row broadcast, never a global rank window") {
    val df = SparkEntry.queries("q_top_supplier")(spark, sfDir)
    // a window-rank formulation would sort |suppliers| in one partition
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"q_top_supplier grew a rank window: $windows")
    val p = finalPlan(df)
    assert(p.toString.contains("BroadcastNestedLoopJoin")
      || p.toString.contains("BroadcastHashJoin"),
      s"1-row max must broadcast:\n$p")
  }

  test("zipf_fit: rank partitions are (lang, bucket) first, never bare lang on the full vocab") {
    // the audit_value_quantiles lesson at authoring time (ngram_stats
    // posture): the full per-lang vocabulary must be cut by the 64-way
    // hash bucket before the single-partition-per-lang global rank
    val df = SparkEntry.queries("zipf_fit")(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.map(_.references.map(_.name).mkString(",")).mkString("|")
    }
    assert(windows.exists(_.contains("bucket")),
      s"bucket pre-pass window missing: $windows")
  }

  // --- round-7 pins --------------------------------------------------

  test("emb_matryoshka: shares are per-row folds — no vec_id exchange, no hints") {
    val df = SparkEntry.queries("emb_matryoshka")(spark, sfDir)
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.isEmpty, s"emb_matryoshka gained a hint: $hinted")
    val p = finalPlan(df)
    // the 4-row (m) aggregate exchange + the contractual output sort —
    // a vec_id-keyed exchange would betray a per-vector groupBy/window
    assert(shuffles(p) <= 2, s"emb_matryoshka gained an exchange:\n$p")
  }

  test("layout_prune_sim: key-range frame broadcasts; one bounded agg family") {
    val p = finalPlan(SparkEntry.queries("layout_prune_sim")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"the 1-row key-range frame stopped broadcasting:\n$s")
    // (layout, file) agg + layout rollup + contractual sort; the 1-row
    // min/max agg contributes its own tiny pre-broadcast exchange
    assert(shuffles(p) <= 4, s"layout_prune_sim gained an exchange:\n$s")
  }

  test("q_skew_probe: top-10 is a TakeOrdered heap, never a full-histogram rank") {
    val df = SparkEntry.queries("q_skew_probe")(spark, sfDir)
    val p = finalPlan(df)
    assert(p.toString.contains("TakeOrderedAndProject"),
      s"top-10 no longer a bounded heap:\n$p")
    // the one rank window must run AFTER the limit — on ≤ 10 rows
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    windows.foreach { w =>
      val hasLimitBelow = w.collectFirst {
        case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => l
      }.isDefined
      assert(hasLimitBelow, s"rank window runs on the full histogram:\n$w")
    }
  }

  test("decontaminate_fuzzy: collapsed probe — no forced hint, no cartesian, " +
      "collision join runs over content groups") {
    // round 10 replaced the forced broadcast of the sf-scaling bench band
    // frame (a driver OOM at scale, and half of a replication-quadratic
    // doc x doc join) with the content-group collapse: no hint may
    // remain — the group frames are content-bounded and AQE picks the
    // physical join.
    val df = SparkEntry.queries("decontaminate_fuzzy")(spark, sfDir)
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.isEmpty, s"unexpected forced hint reappeared: $hinted")
    // the band self-join must consume AGGREGATED (per-content) frames,
    // never raw per-doc band rows (a regression back to a raw per-doc
    // band self-join would be un-hinted and non-cartesian — only a
    // structural check catches it). Two pins: (1) no join anywhere is
    // raw-on-both-sides (the only legitimately raw input is the linear
    // doc-level expansion join's keyed side); (2) every join keyed on
    // the band value — the collision shape — is aggregated on BOTH sides.
    def hasAgg(in: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      in.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isDefined
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      assert(hasAgg(j.left) || hasAgg(j.right),
        s"decontaminate_fuzzy join is raw per-doc on BOTH sides:\n$j")
      val onBand = j.condition.exists(_.references.exists(_.name == "band"))
      if (onBand) Seq("left" -> j.left, "right" -> j.right).foreach {
        case (side, in) => assert(hasAgg(in),
          s"decontaminate_fuzzy band-collision join has a raw per-doc $side input:\n$j")
      }
    }
    val s = finalPlan(df).toString
    assert(!s.contains("CartesianProduct"), s)
  }

  test("dedup_minhash: band self-join runs over persisted signature groups, no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val df = SparkEntry.queries("dedup_minhash")(spark, sfDir)
    val s = finalPlan(df).toString
    assert(s.contains("InMemoryTableScan"), s"signature table not persisted:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    // a side is collapsed when it aggregates on exactly the signature
    // columns — in its own plan or inside a persisted relation's plan
    val sigNames = Set("sig1", "sig2", "sig3", "sig4")
    def sigGrouped(p: LogicalPlan): Boolean = p.collectFirst {
      case a: Aggregate
          if a.groupingExpressions.flatMap(_.references.map(_.name)).toSet == sigNames => a
      case r: InMemoryRelation if sigGrouped(r.cacheBuilder.logicalPlan) => r
    }.isDefined
    val bandJoins = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "band")) => j
    }
    assert(bandJoins.nonEmpty, "no band join found — vacuous")
    bandJoins.foreach { j =>
      Seq("left" -> j.left, "right" -> j.right).foreach { case (side, in) =>
        assert(sigGrouped(in),
          s"dedup_minhash band join has a raw per-doc $side input:\n$j")
      }
    }
    spark.catalog.clearCache()
  }

  test("dedup_semantic persists only its representative frame") {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // every cached-frame scan the executed plan runs, also the scans
    // inside another cached frame's own plan
    def scans(p: SparkPlan): Seq[InMemoryTableScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: InMemoryTableScanExec => s +: scans(s.relation.cachedPlan)
      case other => other.children.flatMap(scans)
    }
    val df = SparkEntry.queries("dedup_semantic")(spark, sfDir)
    val frames = scans(finalPlan(df)).map(_.relation.cacheBuilder).distinct
    assert(frames.size == 1,
      s"dedup_semantic persists ${frames.size} frames:\n" +
        frames.map(_.logicalPlan.treeString).mkString("\n---\n"))
    spark.catalog.clearCache()
  }

  test("vocab_coverage: two-phase rank — bucket pre-pass before the per-lang rank") {
    val df = SparkEntry.queries("vocab_coverage")(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.map(_.references.map(_.name).mkString(",")).mkString("|")
    }
    assert(windows.exists(_.contains("bucket")),
      s"bucket pre-pass window missing: $windows")
  }

  test("corpus_bigram_ppl: only the 1-row token total broadcasts; model joins un-hinted") {
    val df = SparkEntry.queries("corpus_bigram_ppl")(spark, sfDir)
    // bigram model and unigram table both scale with the vocabulary —
    // they must reach the scoring joins un-hinted (AQE size-gates)
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.length == 1, s"bigram-ppl broadcast hints changed: $hinted")
    assert(!finalPlan(df).toString.contains("CartesianProduct"))
  }

  test("event_attribution: both last-touch arms share one user window exchange") {
    val p = finalPlan(SparkEntry.queries("event_attribution")(spark, sfDir))
    // window exchange + channel rollup + 1-row total + output sort; a
    // fifth exchange would mean the two ignore-nulls arms split frames
    assert(shuffles(p) <= 4, s"event_attribution gained an exchange:\n$p")
  }

  test("audit_merge_upsert: reconciliation is algebraic — no third full-feed pass") {
    val df = SparkEntry.queries("audit_merge_upsert")(spark, sfDir)
    // the full-replay arm reads the same feed; the pin is on scan count:
    // pre-half, post-half and full-replay each prune by audit_id on the
    // SAME source — more than 3 feed scans means a lost reuse
    val p = finalPlan(df)
    var scans = 0
    def walk(n: org.apache.spark.sql.execution.SparkPlan): Unit = n match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        scans += 1; f.children.foreach(walk)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(q.plan)
      case o => o.children.foreach(walk)
    }
    walk(p)
    // 3 reconstruction arms + the 1-row midpoint aggregate
    assert(scans <= 4, s"merge_upsert feed scanned ${scans}x:\n$p")
  }

  // --- round-9 additions ---------------------------------------------

  test("multimodal_interleave: the packing window is shard-local, never a global stream") {
    val p = finalPlan(SparkEntry.queries("multimodal_interleave")(spark, sfDir))
    val windows = p.toString.linesIterator.filter(_.contains("Window")).mkString("\n")
    // the cumulative window MUST partition on the shard key — an
    // unpartitioned ORDER BY doc_id stream is the 100 TB single-partition
    // funnel this op exists to avoid
    assert(windows.contains("shard"), s"packing window lost its shard partitioning:\n$p")
  }

  test("ann_hamming: corpus never shuffles — query sides broadcast into both legs") {
    val p = finalPlan(SparkEntry.queries("ann_hamming")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"a corpus-side join fell out of broadcast:\n$s")
    // exchanges: two |q|×k rank windows + final served-set join + output
    // sort — none may carry a corpus-scale side
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("audit_cusum: running windows sit on the bounded daily frame") {
    val p = finalPlan(SparkEntry.queries("audit_cusum")(spark, sfDir))
    // daily partial-agg + day-grid join + baseline broadcast + the
    // op-partitioned windows + output sort, all post-aggregate; more
    // exchanges means a window slid under the aggregate onto raw rows
    assert(shuffles(p) <= 5, s"audit_cusum gained an exchange:\n$p")
  }

  test("dedup_source_matrix: candidate self-join is an equi-join, no cartesian") {
    val p = finalPlan(SparkEntry.queries("dedup_source_matrix")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("CartesianProduct"), s"cartesian in source matrix:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin"), s"BNLJ in source matrix:\n$s")
    // the (fp, source) frame is built once and persisted for both readers
    assert(s.contains("InMemoryTableScan"), s"fingerprint frame not persisted:\n$s")
  }

  test("ann_nprobe_curve: rank table persisted once; ground truth broadcasts") {
    val p = finalPlan(SparkEntry.queries("ann_nprobe_curve")(spark, sfDir))
    val s = p.toString
    assert(s.contains("InMemoryTableScan"), s"centroid ranks not persisted:\n$s")
    assert(!s.contains("CartesianProduct"), s)
  }

  test("event_markov: iteration joins ride broadcasts — the feed is exchanged " +
    "only for the one user window") {
    val p = finalPlan(SparkEntry.queries("event_markov")(spark, sfDir))
    val s = p.toString
    // transition matrix agg + its row-total agg + three bounded iteration
    // rounds + final frame joins; every π/r side must broadcast
    assert(!s.contains("SortMergeJoin"), s"iteration join fell to SMJ:\n$s")
  }

  test("quality_ablation: one global aggregate, no joins, no per-doc residue") {
    val p = finalPlan(SparkEntry.queries("quality_ablation")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("Join"), s"ablation grew a join:\n$s")
    // flag battery is a pure map; the only exchanges are the single
    // global aggregate + the |rules|-row output sort
    assert(shuffles(p) <= 2, s"ablation gained an exchange:\n$s")
  }

  test("contamination_sources: benchmark probe broadcasts; corpus never shuffles for it") {
    val p = finalPlan(SparkEntry.queries("contamination_sources")(spark, sfDir))
    val s = p.toString
    assert(s.contains("BroadcastHashJoin"), s"probe join lost its broadcast:\n$s")
    assert(!s.contains("CartesianProduct"), s)
  }

  test("ann_ivf_balance: assignment is a broadcast fold — no corpus-wide join") {
    val p = finalPlan(SparkEntry.queries("ann_ivf_balance")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"balance audit shuffled the corpus into a join:\n$s")
  }

  test("ann serve ops: query side broadcasts, no cartesian; IVF rank table persisted once") {
    for (q <- Seq("ann_topk", "ann_ivf_kmeans", "ann_ivf_multiprobe", "ann_ivf_pq")) {
      val s = finalPlan(SparkEntry.queries(q)(spark, sfDir)).toString
      assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
        s"$q: the query side fell out of broadcast:\n$s")
      assert(!s.contains("CartesianProduct"), s"$q: cartesian in the serve path:\n$s")
      // assignment and probe list both read the one persisted rank table
      if (q != "ann_topk")
        assert(s.contains("InMemoryTableScan"), s"$q: centroid ranks not persisted:\n$s")
      spark.catalog.clearCache()
    }
  }

  test("event_concurrency: running sums ride day-partitioned windows — the only " +
    "single-partition work is the bounded day ledger") {
    val p = finalPlan(SparkEntry.queries("event_concurrency")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("SortMergeJoin"), s"bounded ledger joins fell to SMJ:\n$s")
    assert(!s.contains("CartesianProduct"), s)
  }

  test("audit_blind_spots: gap windows broadcast against the hour grid") {
    val p = finalPlan(SparkEntry.queries("audit_blind_spots")(spark, sfDir))
    val s = p.toString
    // the interval join is non-equi, so its legitimate shape is a
    // broadcast nested loop with the BOUNDED gap side as build
    assert(s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("pii_ldiversity: two partial aggregates and a bounded sort, nothing else") {
    val p = finalPlan(SparkEntry.queries("pii_ldiversity")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("Join"), s)
    assert(shuffles(p) <= 3, s"l-diversity gained an exchange:\n$s")
  }

  test("q_min_price_supplier: argmin window partitioned by part; dims broadcast") {
    val p = finalPlan(SparkEntry.queries("q_min_price_supplier")(spark, sfDir))
    val s = p.toString
    // supplier/nation (and the tiny part slice under AQE) must broadcast;
    // a sort-merge join here would shuffle the fact table per dim join
    assert(!s.contains("SortMergeJoin"), s)
    assert(s.contains("BroadcastHashJoin"), s)
    // slice-join stays map-side + (part,supp) agg + per-part argmin window
    // + output sort — the window must NOT be a global ordering
    assert(shuffles(p) <= 4, s"argmin plan gained an exchange:\n$s")
  }

  test("q_part_supplier_stats: complaints exclusion is a broadcast anti join") {
    val p = finalPlan(SparkEntry.queries("q_part_supplier_stats")(spark, sfDir))
    val s = p.toString
    // at tiny SF the excluded set can be EMPTY, in which case AQE
    // legitimately deletes the anti join (PropagateEmptyRelation); the pin
    // is that when the join exists it must be broadcast, never sort-merge
    assert(!s.contains("SortMergeJoin"), s)
    if (s.contains("LeftAnti"))
      assert(s.contains("BroadcastHashJoin"),
        s"excluded-supplier set no longer broadcast-anti:\n$s")
    assert(shuffles(p) <= 5, s"distinct-count pipeline gained an exchange:\n$s")
  }

  test("q_promo_eligible: date+name filters prune the scan; rollup joins broadcast") {
    val p = finalPlan(SparkEntry.queries("q_promo_eligible")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("SortMergeJoin"), s)
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      s.contains("GreaterThanOrEqual(l_shipdate"),
      s"ship-date predicate no longer reaches the parquet scan:\n$s")
    assert(shuffles(p) <= 4, s)
  }

  test("audit_out_of_order: running max rides ONE entity exchange") {
    val p = finalPlan(SparkEntry.queries("audit_out_of_order")(spark, sfDir))
    // entity window exchange + the exact-distinct's two agg phases + the
    // contractual output sort — the honest floor for an exact
    // entities-affected count; the pin guards the window staying
    // key-partitioned (a global ordering would add range exchanges)
    assert(shuffles(p) <= 4, s"out-of-order audit gained an exchange:\n$p")
  }

  test("audit_handoff: lag + matrix agg — one entity exchange, bounded output") {
    val p = finalPlan(SparkEntry.queries("audit_handoff")(spark, sfDir))
    assert(shuffles(p) <= 3, s"handoff matrix gained an exchange:\n$p")
  }

  test("emb_class_margin: centroids broadcast; scoring aggregates map-side") {
    val p = finalPlan(SparkEntry.queries("emb_class_margin")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"margin scoring shuffled the corpus into a join:\n$s")
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"), s)
  }

  test("emb_isotropy: closed-form — one corpus agg, no pair join at any scale") {
    val p = finalPlan(SparkEntry.queries("emb_isotropy")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("Join"), s"isotropy grew a pair join:\n$s")
    // one groupBy(label) exchange + the contractual output sort
    assert(shuffles(p) <= 2, s"isotropy gained an exchange:\n$s")
  }

  test("multimodal_av_sync: frame→window alignment is the native as-of join") {
    val p = finalPlan(SparkEntry.queries("multimodal_av_sync")(spark, sfDir))
    val s = p.toString
    assert(s.contains("AsOfJoin"), s"A/V alignment fell off AsOfJoinExec:\n$s")
    assert(!s.contains("CartesianProduct"), s)
  }

  test("multimodal_chunk_dedup: two hash aggregates, no join, no pair blowup") {
    val p = finalPlan(SparkEntry.queries("multimodal_chunk_dedup")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("Join"), s)
    // chunk-hash agg + media_type rollup + contractual output sort
    assert(shuffles(p) <= 3, s"chunk dedup gained an exchange:\n$s")
  }

  test("text_length_lognormal: one partial-agg pass per source") {
    val p = finalPlan(SparkEntry.queries("text_length_lognormal")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("Join"), s)
    assert(shuffles(p) <= 2, s"lognormal fit gained an exchange:\n$s")
  }

  test("pii_tcloseness: EMD lives on the bounded class×band grid — no corpus re-shuffle") {
    val p = finalPlan(SparkEntry.queries("pii_tcloseness")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("SortMergeJoin"), s"grid join fell to sort-merge:\n$s")
  }

  test("query_expansion_prf: every probe side broadcasts — the corpus never shuffles for the query") {
    val p = finalPlan(SparkEntry.queries("query_expansion_prf")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("SortMergeJoin"), s"a probe join shuffled the corpus:\n$s")
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("InMemoryTableScan") || s.contains("TableCacheQueryStage"),
      s"shared tf table no longer persisted (corpus re-scanned per pass):\n$s")
  }

  test("q_customer_deciles: decile ranks are bucket-partitioned, never a global-sort ntile") {
    // same property as the audit_value_quantiles pin: the per-row
    // row_number window must partition by the learned bucket (B-way
    // parallel), not run one global ordering over every customer
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val p = finalPlan(SparkEntry.queries("q_customer_deciles")(spark, sfDir))
    val windows = scala.collection.mutable.Buffer.empty[WindowExec]
    def walk(x: SparkPlan): Unit = x match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case w: WindowExec => windows += w; w.children.foreach(walk)
      case o => o.children.foreach(walk)
    }
    walk(p)
    val rankWindows = windows.filter(_.windowExpression.mkString.contains("row_number"))
    assert(rankWindows.nonEmpty, s"rank window not found in plan:\n$p")
    rankWindows.foreach { w =>
      assert(w.partitionSpec.map(_.toString).exists(_.contains("bucket")),
        s"decile rank window lost its bucket partitioning: ${w.partitionSpec}\n$p")
    }
  }

  test("q_part_pagerank: iterations reuse the persisted edge table, no cartesian") {
    val p = finalPlan(SparkEntry.queries("q_part_pagerank")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("InMemoryTableScan") || s.contains("TableCacheQueryStage"),
      s"edge table no longer persisted (pair join replays per iteration):\n$s")
    // each round's rank frame is pinned and materialized, so the FINAL
    // plan consumes round 3 straight from cache: zero LIVE parquet scans
    // (lineage inside InMemoryRelation text doesn't count — walk actual
    // executed nodes, stopping at cache reads), never the k-fold
    // re-execution of prior rounds' joins the pin exists to kill
    def liveScans(n: SparkPlan): Int = n match {
      case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => 0
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => liveScans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => 1
      case o => o.children.map(liveScans).sum
    }
    assert(liveScans(p) === 0,
      s"final iteration re-executes prior rounds' fact scans:\n$s")
  }

  test("pagerank edge-layout mechanism: cached repartition(src)+sort is consumed " +
    "exchange-free by the per-round join and the degree agg") {
    // q_part_pagerank's spill lever: the edge table is persisted ALREADY
    // hash-partitioned and sorted on src, so neither the 3 iteration
    // joins nor the degree pass may add an Exchange (or re-sort) on the
    // edge side. The final pagerank plan can't show this (iterations are
    // materialized behind the cache), so pin the mechanism itself — if a
    // Spark upgrade stops propagating cached outputPartitioning through
    // EnsureRequirements, this fails before the sf10 bench does.
    import org.apache.spark.sql.functions._
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val abcast = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val e = spark.range(0, 20000)
      .select((col("id") % 97).cast("int").as("src"),
        (col("id") % 89).cast("int").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .repartition(col("src")).sortWithinPartitions("src")
      .persist()
    try {
      e.count()
      // mass-bounded ranks (Σpr = 1, the operator's contract — a uniform
      // 0.5 would overflow the scale-18 lane, by design loudly)
      val pr = spark.range(0, 97)
        .select(col("id").cast("int").as("src"), lit(1.0 / 97).as("pr"))
      val j = e.join(pr, Seq("src")).groupBy("dst")
        .agg(sum(expr("graft_to_scaled18(pr / w)")).as("mL"))
      val pj = finalPlan(j)
      // exchanges in the whole plan: rank side's join exchange + the
      // dst agg exchange — the edge side must contribute ZERO (it would
      // be a third)
      assert(shuffles(pj) <= 2,
        s"edge side re-exchanged despite cached partitioning:\n$pj")
      val deg = e.groupBy("src").agg(sum("w").as("outdeg"))
      val pd = finalPlan(deg)
      assert(shuffles(pd) === 0,
        s"degree pass re-exchanged the cached edge layout:\n$pd")
    } finally {
      e.unpersist(blocking = false)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      abcast match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("dq_profile: every metric of every column in ONE fact scan") {
    val p = finalPlan(SparkEntry.queries("dq_profile")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("Join"), s)
    val scans = s.split("\n").count(_.contains("Scan parquet"))
    assert(scans <= 1, s"profile re-scans the fact table ($scans scans):\n$s")
  }

  test("q_measure_correlations: one fact scan feeds every pair's sums") {
    val p = finalPlan(SparkEntry.queries("q_measure_correlations")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("Join"), s)
    val scans = s.split("\n").count(_.contains("Scan parquet"))
    assert(scans <= 1, s"correlation matrix re-scans the fact table:\n$s")
  }

  test("audit_gdpr_erasure: final-op window rides one entity exchange") {
    val p = finalPlan(SparkEntry.queries("audit_gdpr_erasure")(spark, sfDir))
    // entity window + exact-distinct two-phase + output sort
    assert(shuffles(p) <= 4, s"erasure manifest gained an exchange:\n$p")
  }

  test("multimodal_patch_grid: quantiles on the bounded histogram, no rank window over rows") {
    val p = finalPlan(SparkEntry.queries("multimodal_patch_grid")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("row_number"), s"patch quantiles fell to a per-row rank window:\n$s")
  }

  test("dq_constraints: no cartesian, no fact re-shuffle beyond the named checks") {
    val p = finalPlan(SparkEntry.queries("dq_constraints")(spark, sfDir))
    assert(!p.toString.contains("CartesianProduct"), p.toString)
  }

  test("emb_label_sim: centroid matrix joins stay broadcast after one vec-sum agg") {
    val p = finalPlan(SparkEntry.queries("emb_label_sim")(spark, sfDir))
    val s = p.toString
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"), s)
    assert(s.contains("graft_vec_sum") || s.contains("vecsumdec"),
      s"centroids no longer ride the vector-sum aggregate:\n$s")
  }
  test("corpus_dsir: model side rides broadcast, the corpus frame is never hinted") {
    val df = SparkEntry.queries("corpus_dsir")(spark, sfDir)
    val hints = hintedColumns(df)
    // the <=1024-row lambda table and the two 1-row totals ARE hinted...
    assert(hints.contains("lam"), s"lambda table lost its broadcast hint: $hints")
    assert(hints.contains("tot_tokens"), s"threshold totals lost broadcast: $hints")
    // ...and the corpus-scale (doc, bucket, count) frame is NOT - a
    // forced hint there is a 100 TB driver OOM
    assert(!hints.contains("doc_id"), s"corpus frame broadcast-hinted: $hints")
    val p = finalPlan(df).toString
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"dsir scoring join fell out of broadcast:\n$p")
  }

  test("corpus_doremi: the vocab-scale term join stays un-hinted, domain frames broadcast") {
    val df = SparkEntry.queries("corpus_doremi")(spark, sfDir)
    val hints = hintedColumns(df)
    assert(hints.contains("nd"), s"domain-totals frame lost broadcast: $hints")
    // the corpus unigram LM (term, ct) scales with the vocabulary - it
    // must stay un-hinted so AQE can shuffle-hash it at 100 TB
    assert(!hints.contains("ct"), s"vocab-scale LM broadcast-hinted: $hints")
    assert(!finalPlan(df).toString.contains("CartesianProduct"))
  }

  test("decontaminate_bloom: position sets and ground truth broadcast, probe never sort-merges") {
    val df = SparkEntry.queries("decontaminate_bloom")(spark, sfDir)
    val p = finalPlan(df).toString
    // the bloom (three position sets) + the exact set ride broadcast:
    // the corpus probe stream must never shuffle for a membership test
    assert(!p.contains("SortMergeJoin"),
      s"a bloom membership join fell out of broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"no broadcast join in the probe path:\n$p")
  }

  test("corpus_psi: everything after the first aggregate is broadcast-joined") {
    val df = SparkEntry.queries("corpus_psi")(spark, sfDir)
    val p = finalPlan(df).toString
    // all post-aggregate frames are |sources|x|bins|-bounded — a
    // sort-merge join here means a bounded frame is being shuffled
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"PSI grid join left broadcast:\n$p")
  }

  test("q_part_skyline: no corpus-scale window — the only windows run on bounded frames") {
    val df = SparkEntry.queries("q_part_skyline")(spark, sfDir)
    val plan = finalPlan(df).toString
    // the pre-prune must reach the scan as a filter BEFORE the exact
    // pass; the full part table must never be globally sorted
    assert(!plan.contains("SortMergeJoin"),
      s"skyline candidate join fell out of broadcast:\n$plan")
  }

  test("quality_nb: the O(B) model broadcasts, the corpus bag is never hinted") {
    val df = SparkEntry.queries("quality_nb")(spark, sfDir)
    val hints = hintedColumns(df)
    // the <=2(B+60)-row weight table and the 1-row prior ARE hinted...
    assert(hints.contains("w"), s"NB weight table lost its broadcast hint: $hints")
    assert(hints.contains("pw_micro"), s"prior lost broadcast: $hints")
    // ...and the corpus-scale frames are NOT
    assert(!hints.contains("doc_id"), s"corpus bag broadcast-hinted: $hints")
    val p = finalPlan(df).toString
    assert(!p.contains("CartesianProduct"), s"cartesian in NB plan:\n$p")
    // the distinct-text collapse's map-back joins key on tkey (the
    // distinct-sized score/label frames); a doc_id-keyed sort-merge
    // would mean the corpus is being joined against itself
    val smjKeys = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.Inner =>
        j.condition.toSeq.flatMap(_.references.map(_.name)).distinct
    }.flatten
    assert(!smjKeys.contains("doc_id"),
      s"NB map-back joined on doc_id — corpus self-join: $smjKeys")
  }

  test("dedup_cdc: the chunk frame computes ONCE (persisted), windows keyed by tkey") {
    val df = SparkEntry.queries("dedup_cdc")(spark, sfDir)
    // the chunk pipeline (explode → window pair → chunk agg) feeds both
    // the occurrence count and the join back; without the persist,
    // Catalyst re-expands the heaviest subtree once per reference —
    // the InMemoryRelation is the single-computation proof
    val cached = df.queryExecution.optimizedPlan.collect {
      case c: org.apache.spark.sql.execution.columnar.InMemoryRelation => c
    }
    assert(cached.nonEmpty, "chunk frame lost its persist — double computation")
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.flatMap(_.references.map(_.name)).mkString(",")
    }
    assert(wins.forall(_.contains("tkey")),
      s"a dedup_cdc window is not tkey-partitioned (global sort at scale): $wins")
    assert(!finalPlan(df).toString.contains("CartesianProduct"))
  }

  test("pii_secrets + doc_repetition_topn: single-pass shapes hold") {
    // pii_secrets: pure scan — no join, no aggregate anywhere
    val sec = SparkEntry.queries("pii_secrets")(spark, sfDir)
    val secPlan = sec.queryExecution.optimizedPlan
    assert(secPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "pii_secrets grew a join — it must stay a per-row scan")
    assert(secPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isEmpty, "pii_secrets grew an aggregate")
    // doc_repetition_topn: the distinct-text collapse shape — exactly the
    // two column-pruned corpus reads (the keyed map + the distinct fold),
    // no explode-and-regroup (zero Aggregate above the collapse pair), and
    // the gram folds stay per-row
    val rep = SparkEntry.queries("doc_repetition_topn")(spark, sfDir)
    val scans = rep.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.length === 2,
      s"doc_repetition_topn reads the corpus ${scans.length} times (want the collapse pair)")
    val repAggs = rep.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(repAggs.length === 1,
      s"doc_repetition_topn grew ${repAggs.length} aggregates (want only distinctTexts')")
    assert(rep.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.isEmpty, "doc_repetition_topn regrew an explode")
  }

  test("sample_stratified: the corpus rank is stratum-keyed, never global") {
    val df = SparkEntry.queries("sample_stratified")(spark, sfDir)
    df.collect()
    // exactly one window may be global (the bounded strata-frame quota
    // pass); the doc-side rank must partition by (lang, source)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.flatMap(_.references.map(_.name)).distinct.sorted.mkString(",")
    }
    assert(wins.exists(_ == "lang,source"),
      s"doc rank lost its stratum partitioning: $wins")
  }

  test("emb_mmd_sources: corpus folds into ONE cached aggregate, no cartesian") {
    val df = SparkEntry.queries("emb_mmd_sources")(spark, sfDir)
    df.collect()
    // every corpus read lives inside the single persisted per-source
    // aggregate — the pair matrix, dots, and norms all derive from the
    // cached |sources|-row frame, so the raw tables never re-scan
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.isEmpty,
      s"emb_mmd_sources re-reads the corpus ${scans.length} times past the cache")
    assert(!finalPlan(df).toString.contains("CartesianProduct"))
    spark.catalog.clearCache()
  }

  test("emb_cluster_sample: the rank window is cell-keyed, never global") {
    val df = SparkEntry.queries("emb_cluster_sample")(spark, sfDir)
    df.collect()
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.flatMap(_.references.map(_.name)).distinct.sorted.mkString(",")
    }
    assert(wins.nonEmpty && wins.forall(_.contains("cell")),
      s"emb_cluster_sample window lost its cell partitioning: $wins")
    assert(!finalPlan(df).toString.contains("CartesianProduct"))
  }

  test("stream_late_curve: one user-keyed frontier window, explode after it") {
    val df = SparkEntry.queries("stream_late_curve")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.optimizedPlan
    val wins = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.flatMap(_.references.map(_.name)).distinct.sorted.mkString(",")
    }
    assert(wins === Seq("user_id"),
      s"stream_late_curve frontier window must be user-keyed exactly once: $wins")
    // the 3-delay fan-out must not multiply rows BEFORE the window
    val gens = plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gens.length === 1, s"want exactly one explode, got ${gens.length}")
    assert(gens.head.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isDefined, "the delay explode must sit ABOVE the frontier window")
  }

  test("quality_calibration: one bounded groupBy past the live quality_nb plan") {
    val df = SparkEntry.queries("quality_calibration")(spark, sfDir)
    df.collect()
    // the calibration pass must not add exchanges beyond quality_nb's own
    // shape — its only work is a partial-aggregating groupBy on the
    // <=11-value margin bucket. Global (unpartitioned) windows are only
    // legal on BOUNDED post-aggregation frames (quality_nb's class totals
    // ride one over the <=2·(B+60)-row bucket table): a global window
    // whose input is raw corpus rows would funnel the feed through one
    // partition, so every window here must sit above an Aggregate.
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    wins.foreach { w =>
      assert(w.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isDefined,
        s"quality_calibration window consumes a non-aggregated (corpus-sized) input: $w")
    }
    assert(!finalPlan(df).toString.contains("CartesianProduct"))
    spark.catalog.clearCache()
  }

  test("dedup_semantic_curve: threshold fan-out sits above the pair reduction") {
    val df = SparkEntry.queries("dedup_semantic_curve")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.optimizedPlan
    val gens = plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gens.length === 1, s"want exactly one explode, got ${gens.length}")
    // the 3-threshold explode must consume the per-group best (an
    // Aggregate below it), never the raw candidate pair stream
    assert(gens.head.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isDefined, "the threshold explode must sit above the per-group max")
    assert(!finalPlan(df).toString.contains("CartesianProduct"))
    spark.catalog.clearCache()
  }
}
