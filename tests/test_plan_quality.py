"""Plan-shape regression tests: pushdown, pruning, and join strategy
must hold — a silent plan regression is a 100 TB incident, so it fails
here instead."""

from __future__ import annotations

import pytest

from optimus_any2any_spark.plans import plan_report
from optimus_any2any_spark.queries import all_queries
from tests.conftest import SF_DIR

QS = all_queries()


def report(spark, name):
    return plan_report(QS[name].spark(spark, SF_DIR))


class TestPushdownAndPruning:
    def test_q01_filter_pushed_and_pruned(self, spark):
        r = report(spark, "q01_pricing_summary")
        assert r.has_pushdown, "shipdate filter must reach the parquet scan"
        assert any("LessThanOrEqual(l_shipdate" in f for f in r.pushed_filters)
        cols = r.scan_columns()[0]
        # 11-column table, query needs 7 — pruning must drop the rest
        assert "l_orderkey" not in cols and "l_partkey" not in cols

    def test_q06_all_filters_pushed(self, spark):
        r = report(spark, "q06_revenue_forecast")
        joined = " ".join(r.pushed_filters)
        for f in ("l_shipdate", "l_discount", "l_quantity"):
            assert f in joined
        assert set(r.scan_columns()[0]) == {
            "l_quantity", "l_extendedprice", "l_discount", "l_shipdate",
        }

    def test_documents_scan_pruned_for_dedup(self, spark):
        r = report(spark, "dedup_ngram_jaccard")
        for cols in r.scan_columns():
            assert "lang" not in cols and "source" not in cols

    def test_minhash_verify_prefiltered_to_candidates(self, spark):
        # the exact-Jaccard verification must not shuffle the whole
        # corpus shingle table: the b side is semi-joined down to
        # candidate docs (broadcast, map-side) before the shingle-key
        # join
        r = report(spark, "dedup_minhash_lsh")
        assert "LeftSemi" in r.text, r.text
        assert r.num_nested_loop_joins == 0, r.text


class TestJoinStrategy:
    def test_q03_dims_broadcast(self, spark):
        r = report(spark, "q03_shipping_priority")
        assert r.num_broadcast_joins >= 2
        assert r.num_nested_loop_joins == 0

    def test_q05_no_cartesian(self, spark):
        r = report(spark, "q05_nation_revenue")
        assert r.num_nested_loop_joins == 0
        assert r.num_broadcast_joins >= 3

    def test_q01_shuffle_budget(self, spark):
        # partial agg → final agg (1 exchange) + result sort (1 range
        # exchange); anything beyond ~4 means a plan regression.
        # (Codegen subtrees aren't visible pre-execution under AQE.)
        r = report(spark, "q01_pricing_summary")
        assert r.num_exchanges <= 4, r.text

    def test_q04_semi_join_no_fact_agg(self, spark):
        # EXISTS must compile to a semi join, never join+distinct.
        r = report(spark, "q04_order_priority")
        assert "LeftSemi" in r.text, r.text
        assert r.num_nested_loop_joins == 0

    def test_q07_all_dims_broadcast(self, spark):
        r = report(spark, "q07_nation_volume")
        assert r.num_broadcast_joins >= 3, r.text
        assert r.num_nested_loop_joins == 0

    def test_q16_anti_join(self, spark):
        r = report(spark, "q16_supplier_counts")
        assert "LeftAnti" in r.text, r.text

    def test_q19_single_shuffle(self, spark):
        # broadcast join + scalar agg: one broadcast + one final
        # single-partition exchange (each counts twice in formatted
        # text); a sort-merge fallback would push this past 4.
        r = report(spark, "q19_disjunctive_revenue")
        assert r.num_broadcast_joins >= 1
        assert r.num_exchanges <= 4, r.text

    def test_q18_top100_is_take_ordered(self, spark):
        r = report(spark, "q18_large_orders")
        assert "TakeOrderedAndProject" in r.text, r.text

    def test_asof_join_is_union_window(self, spark):
        # as-of must compile to union+window: NO join operator at all,
        # one hash shuffle on the key — density-independent.
        r = report(spark, "asof_click_attribution")
        assert r.num_broadcast_joins == 0
        assert r.num_sortmerge_joins == 0
        assert r.num_nested_loop_joins == 0
        assert "Window" in r.text

    def test_range_join_is_hash_join(self, spark):
        # the bucket trick must keep the inequality out of the join
        # operator — a nested-loop plan here is the 100 TB failure mode.
        r = report(spark, "range_clicks_before_purchase")
        assert r.num_nested_loop_joins == 0, r.text
        assert r.num_broadcast_joins + r.num_sortmerge_joins >= 1

    def test_ivf_centroids_broadcast(self, spark):
        # the centroid side must broadcast (16 rows) and the seed pick
        # must be a distributed top-k, not a global window sort.
        r = report(spark, "ann_ivf_topk")
        assert "TakeOrderedAndProject" in r.text, r.text
        assert "BroadcastNestedLoopJoin" in r.text or r.num_broadcast_joins >= 1

    def test_jq_native_program_stays_jvm_side(self, spark):
        # the composite jq program (assignment/interpolation/map/
        # reduce) must compile to Catalyst — a Python batch operator
        # in this plan means a construct silently fell back
        r = report(spark, "q_jq_native_program")
        assert "MapInPandas" not in r.text and "mapInPandas" not in r.text

    def test_unigram_logprob_total_broadcast(self, spark):
        # the corpus token total must attach as a 1-row broadcast
        # (constant-size, like q11's threshold), never a shuffle; the
        # only corpus-scale exchange is the term-key join
        r = report(spark, "text_unigram_logprob")
        assert "BroadcastNestedLoopJoin" in r.text or r.num_broadcast_joins >= 1, r.text
        assert "CartesianProduct" not in r.text, r.text

    def test_mutual_topk_no_corpus_self_join(self, spark):
        # VERDICT r2 item 3: the mutual-kNN inner top-k is IVF now — the
        # only nested loops allowed are the 64-row centroid broadcast
        # cross joins (condition-free); a corpus-scale self-join would
        # surface as a CartesianProduct or a conditioned (Inner) NLJ.
        spark.catalog.clearCache()
        r = report(spark, "ann_mutual_topk")
        assert "CartesianProduct" not in r.text, r.text
        assert "BroadcastNestedLoopJoin Inner" not in r.text, r.text
        # the mutual screen + candidate joins are equi-joins
        assert r.num_sortmerge_joins + r.num_broadcast_joins >= 2, r.text

    def test_semdedup_quantizer_broadcast_pairs_hash_local(self, spark):
        # SemDeDup: centroid assignment broadcasts the 16-row seed
        # table; the within-cell pair join must be an equi-join on the
        # cell key (hash-local after one shuffle), never a nested loop
        # over the corpus.
        #
        # Clear the cache first: Spark's CacheManager matches persisted
        # plans structurally, so a materialized assignment left over
        # from an earlier run of the same query would make the cached
        # AdaptiveSparkPlan print BOTH Initial and Final sections,
        # doubling the textual NLJ reprints and breaking the count.
        spark.catalog.clearCache()
        r = report(spark, "dedup_semantic")
        assert "TakeOrderedAndProject" in r.text, r.text
        assert "BroadcastNestedLoopJoin" in r.text or r.num_broadcast_joins >= 1
        # the only NLJ is the 16-row quantizer broadcast; it reprints
        # once per InMemoryTableScan of the persisted assignment (3
        # cached subtrees + detail section = 4 textual hits, all the
        # same node). The pair + kept joins must stay hash-based.
        assert r.num_nested_loop_joins <= 4, r.text
        assert "SortMergeJoin" in r.text or "ShuffledHashJoin" in r.text, r.text


class TestSecondSuitePlans:
    def test_q02_argmin_no_nested_loop(self, spark):
        r = report(spark, "q02_min_cost_supplier")
        assert r.num_nested_loop_joins == 0, r.text
        assert r.num_broadcast_joins >= 2, r.text  # supplier + part filter

    def test_q08_all_dims_broadcast(self, spark):
        r = report(spark, "q08_market_share")
        assert r.num_broadcast_joins >= 3, r.text
        assert r.num_nested_loop_joins == 0, r.text

    def test_q11_lineitem_scan_pruned(self, spark):
        # the two-column aggregate must prune the 11-column fact scan
        r = report(spark, "q11_important_parts")
        assert any(
            set(cols) <= {"l_partkey", "l_extendedprice"}
            for cols in r.scan_columns()
        ), r.text
        assert r.num_sortmerge_joins == 0, r.text

    def test_q13_outer_join_kept(self, spark):
        # the priority filter must stay IN the join condition (an
        # outer join that degraded to inner would drop 0-count rows)
        r = report(spark, "q13_customer_distribution")
        assert "LeftOuter" in r.text, r.text
        assert r.num_nested_loop_joins == 0, r.text

    def test_q15_scalar_max_broadcast(self, spark):
        # the 1-row max joins via broadcast, never a shuffle
        r = report(spark, "q15_top_supplier")
        assert (
            "BroadcastNestedLoopJoin" in r.text or r.num_broadcast_joins >= 1
        ), r.text
        assert r.num_sortmerge_joins <= 1, r.text

    def test_q21_decorrelated_single_fact_pass(self, spark):
        # EXISTS/NOT EXISTS must come from ONE per-order aggregate
        # joined back — no nested-loop correlation artifacts
        r = report(spark, "q21_waiting_suppliers")
        assert r.num_nested_loop_joins == 0, r.text
        assert r.num_broadcast_joins >= 1, r.text  # supplier dim

    def test_contamination_single_pass_marker_join(self, spark):
        # the eval gram set attaches as a LEFT OUTER hit-marker join on
        # the gram key so ONE gram expansion feeds a single per-doc
        # aggregate (n_grams + n_hits together) — not a semi join that
        # would force a second expansion for the total count
        r = report(spark, "contamination_4gram")
        assert "LeftOuter" in r.text, r.text
        assert r.num_nested_loop_joins == 0, r.text
        # exactly one join in the whole plan: the marker join (formatted
        # explain lists every node twice — tree + detail — so one join
        # node counts as 2)
        assert (
            r.num_broadcast_joins + r.num_sortmerge_joins + r.num_shuffle_hash_joins
            == 2
        ), r.text

    def test_repetition_no_join(self, spark):
        # pure two-level aggregation: gram expansion is per-row, so the
        # plan must contain no join operator at all
        r = report(spark, "text_repetition_filter")
        assert r.num_broadcast_joins == 0, r.text
        assert r.num_sortmerge_joins == 0, r.text
        assert r.num_nested_loop_joins == 0, r.text

    def test_cohort_retention_equi_join_only(self, spark):
        # cohort joins back on user_id — an equi-join, never nested-loop
        r = report(spark, "q_cohort_retention")
        assert r.num_nested_loop_joins == 0, r.text


class TestIterativeLoopLineage:
    def test_connected_components_plan_constant_across_iterations(
        self, spark, monkeypatch
    ):
        """localCheckpoint per propagation round: the returned plan must
        not grow with the rounds run (unbounded lineage = driver OOM and
        re-executed convergence checks at scale), and an exhausted
        budget raises instead of returning partial labels."""
        from optimus_any2any_spark.operators import dedup as D

        # the large-graph path: no pair graph fits the driver
        monkeypatch.setattr(D, "_MAX_DRIVER_EDGES", 0)
        # a chain graph needs thirteen propagation rounds, a single
        # pair two
        pairs = spark.createDataFrame(
            [(i, i + 1, 1.0) for i in range(12)],
            "doc_a long, doc_b long, jaccard double",
        )
        one = spark.createDataFrame(
            [(0, 1, 1.0)], "doc_a long, doc_b long, jaccard double"
        )
        with pytest.raises(RuntimeError, match="max_iterations=2"):
            D.connected_components(pairs, max_iterations=2)
        short = D.connected_components(one, max_iterations=13)
        long = D.connected_components(pairs, max_iterations=13)
        plan_short = short._jdf.queryExecution().optimizedPlan().toString()
        plan_long = long._jdf.queryExecution().optimizedPlan().toString()
        assert len(plan_long.splitlines()) == len(plan_short.splitlines())
        # and the long run actually converged to one component
        labels = {r["component_id"] for r in long.collect()}
        assert labels == {0}

    def test_pagerank_checkpoint_bounds_plan(self, spark):
        from optimus_any2any_spark.operators.graph import pagerank

        edges = spark.createDataFrame(
            [(i, (i + 1) % 6) for i in range(6)], "src long, dst long"
        )
        p5 = pagerank(edges, iterations=5, checkpoint_interval=5)
        p20 = pagerank(edges, iterations=20, checkpoint_interval=5)
        n5 = len(p5._jdf.queryExecution().optimizedPlan().toString().splitlines())
        n20 = len(p20._jdf.queryExecution().optimizedPlan().toString().splitlines())
        # 4x the iterations must not mean 4x the plan
        assert n20 <= n5 * 2


class TestPassageAndSampling:
    def test_passage_dedup_two_hash_shuffles(self, spark):
        # chunk min-struct aggregate (1 hash exchange) + doc rebuild
        # (1 hash exchange) + final sort (1 range exchange); each
        # prints twice in formatted text. No joins anywhere in the
        # plan, and — critically — NO window: first-occurrence must be
        # the map-side-combinable aggregate, not a row_number window
        # (a hot boilerplate passage would funnel every occurrence
        # through one window task; AQE cannot split window exchanges).
        r = report(spark, "dedup_passage")
        assert r.num_nested_loop_joins == 0, r.text
        assert r.num_exchanges <= 6, r.text
        assert "Join" not in r.text, r.text
        assert "Window" not in r.text, r.text
        # map-side combine present: a partial aggregate on the chunk
        # key precedes the exchange
        assert "partial_min" in r.text or "partial" in r.text.lower(), r.text

    def test_passage_dedup_scan_pruned(self, spark):
        r = report(spark, "dedup_passage")
        for cols in r.scan_columns():
            assert "lang" not in cols and "source" not in cols

    def test_temperature_sampling_budget_broadcast(self, spark):
        # the per-lang budget table must reach the corpus side as a
        # broadcast (one 5-row table), never a shuffle join; the 1-row
        # sum_w crossJoin is the only permissible nested-loop site
        # (operators print twice in formatted text: tree + detail).
        r = report(spark, "sample_temperature_lang")
        assert r.num_broadcast_joins >= 1, r.text
        assert r.num_nested_loop_joins <= 2, r.text

    def test_simhash_hamming_is_hash_join(self, spark):
        # candidate generation must be the (band, value) equi-join —
        # a hash join with the a<b predicate as post-condition, never
        # a nested-loop over signatures.
        r = report(spark, "dedup_simhash_hamming")
        assert r.num_nested_loop_joins == 0, r.text

    def test_q09_dims_broadcast(self, spark):
        r = report(spark, "q09_product_profit")
        assert r.num_broadcast_joins >= 3, r.text
        assert r.num_nested_loop_joins == 0, r.text

    def test_q17_decorrelated_no_nested_loop(self, spark):
        r = report(spark, "q17_small_quantity_revenue")
        assert r.num_nested_loop_joins == 0, r.text
        assert r.num_broadcast_joins >= 2, r.text

    def test_q20_single_fact_partitioning(self, spark):
        # the explicit repartition(l_partkey) must serve both aggregates
        # and the self-join: no ENSURE_REQUIREMENTS hash exchange on
        # l_partkey/l_suppkey may appear beyond the REPARTITION_BY_COL
        # ones (AQE reuses the identical exchange subtree at runtime).
        r = report(spark, "q20_dominant_suppliers")
        assert "REPARTITION_BY_COL" in r.text, r.text
        assert r.num_nested_loop_joins == 0, r.text
        import re
        ensure_on_fact = [
            m for m in re.findall(
                r"hashpartitioning\(([^)]*)\), ENSURE_REQUIREMENTS", r.text
            )
            if "l_partkey" in m or "l_suppkey" in m
        ]
        assert not ensure_on_fact, ensure_on_fact

    def test_hybrid_consensus_no_corpus_nested_loop(self, spark):
        # both arms stay bucket-bounded; the consensus join is a
        # pair-keyed full-outer hash join. NLJ appears only via 1-row /
        # broadcast-candidate seams, never between corpus-scale sides.
        spark.catalog.clearCache()
        r = report(spark, "dedup_hybrid_consensus")
        assert "FullOuter" in r.text, r.text
        assert r.num_sortmerge_joins + r.num_broadcast_joins >= 1, r.text

    def test_report_card_single_scan_lineage(self, spark):
        # every metric derives from one documents scan shape: only the
        # documents table may appear among the file scans.
        r = report(spark, "corpus_report_card")
        assert r.num_nested_loop_joins == 0, r.text
        assert all(
            "documents.parquet" in loc for loc in r.scan_locations()
        ), r.text

    def test_curriculum_and_shard_no_global_window(self, spark):
        # both now rank via with_record_index_and_total: a range-
        # partitioned sort pinned by localCheckpoint plus driver-side
        # partition offsets. The plan must contain NO window (the old
        # ntile/row_number global window was a single-task sort at
        # corpus scale) and no joins — the checkpointed rank feeds a
        # plain aggregate.
        for name in ("curriculum_quality_bins", "shard_balanced_assignment"):
            r = report(spark, name)
            assert "Join" not in r.text, (name, r.text)
            assert "Window" not in r.text, (name, r.text)
            # the rank layer reads from the checkpointed RDD, proving
            # the offset-rank path (not a window) produced rn0
            assert "ExistingRDD" in r.text, (name, r.text)

    def test_char_entropy_two_aggregates_no_python(self, spark):
        # freq (doc, char) + entropy (doc) aggregates plus the density
        # join back to documents; no Python evaluation nodes.
        r = report(spark, "doc_char_entropy")
        assert "Python" not in r.text, r.text
        assert r.num_nested_loop_joins == 0, r.text


class TestRound3Plans:
    def test_funnel_single_user_shuffle_no_window(self, spark):
        # chain state from ONE conditional aggregate: a window or a
        # per-step join would multiply corpus passes
        r = report(spark, "q_events_funnel")
        assert "Window" not in r.text, r.text
        assert r.num_sortmerge_joins == 0, r.text
        cols = r.scan_columns()[0]
        assert set(cols) == {"ts", "user_id", "event_type"}

    def test_span_dedup_no_window_totals(self, spark):
        # corpus-wide span totals must be a groupBy("h") aggregate
        # (map-side combine collapses hot boilerplate spans to one
        # partial row per upstream partition) joined back on the
        # REDUCED (doc, span) frame — never a Window.partitionBy("h")
        # sum, which has no partial aggregation and funnels every
        # occurrence of a hot span through one task. The reduced frame
        # is persisted, so the gram expansion is not recomputed for
        # the second consumer.
        spark.catalog.clearCache()
        r = report(spark, "dedup_span_exact")
        assert "Window" not in r.text, r.text
        # totals re-attach via an equi-join (AQE-skew-splittable)
        assert (
            r.num_sortmerge_joins
            + r.num_shuffle_hash_joins
            + r.num_broadcast_joins
            >= 1
        ), r.text
        for cols in r.scan_columns():
            assert set(cols) <= {"doc_id", "text"}, r.read_schemas
        spark.catalog.clearCache()

    def test_kmeans_recompute_cells_only(self, spark):
        # corpus never crosses a quantizer exchange: no sort-merge
        # joins anywhere; scans prune to (vec_id, embedding)
        r = report(spark, "embedding_kmeans")
        assert r.num_sortmerge_joins == 0, r.text
        for cols in r.scan_columns():
            assert "label" not in cols

    def test_quality_linear_no_joins(self, spark):
        r = report(spark, "text_quality_linear")
        assert r.num_sortmerge_joins == 0
        assert r.num_broadcast_joins == 0


class TestRound4Plans:
    def test_codec_roundtrips_map_only(self, spark):
        # the codec queries' scale claim is "zero shuffle, zero join":
        # two chained MapInPandas stages over a parallelized scan plus
        # the presentation sort ONLY
        for name in ("multimodal_png_roundtrip", "multimodal_jpeg_roundtrip"):
            r = report(spark, name)
            assert "Join" not in r.text, (name, r.text)
            assert r.text.count("MapInPandas") >= 2, (name, r.text)

    def test_nfd_packing_no_global_window(self, spark):
        # ranking comes from the offset-rank machinery (range partition
        # + ExistingRDD checkpoint), never a global row_number window
        r = report(spark, "seq_packing_bins")
        assert "Window" not in r.text, r.text
        assert "ExistingRDD" in r.text, r.text

    def test_cdc_chunk_window_is_doc_keyed_and_cached(self, spark):
        # the only window is the chunk-index prefix sum partitioned by
        # the DOC id (per-task work = one document; the key cannot be
        # hot) — never by chunk content; and the chunk table is read
        # from cache so the explode+window lineage runs once
        import re

        spark.catalog.clearCache()
        r = report(spark, "dedup_cdc_chunks")
        specs = re.findall(r"windowspecdefinition\((\w+)", r.text)
        assert specs and all(c.startswith("doc_id") for c in specs), specs
        assert "InMemory" in r.text, r.text
        assert r.num_sortmerge_joins == 0, r.text
        spark.catalog.clearCache()

    def test_bigram_lm_model_tables_broadcast(self, spark):
        # unigram/continuation/pruned-bigram model tables must all
        # BROADCAST onto the gram stream; a sort-merge join would mean
        # the corpus is shuffling to meet a vocabulary-scale table.
        # The only nested loops allowed are the 1-row total crossJoins.
        r = report(spark, "text_bigram_logprob")
        assert r.num_broadcast_joins >= 3, r.text
        assert r.num_sortmerge_joins == 0, r.text
        assert "Python" not in r.text, r.text

    def test_dsir_logratio_broadcasts(self, spark):
        # the ≤B-row log-ratio table must BROADCAST onto the feature
        # stream (the only corpus-scale shuffle is the per-doc rollup);
        # no sort-merge join may touch the occurrence stream
        r = report(spark, "mix_dsir_importance")
        assert r.num_broadcast_joins >= 1, r.text
        assert r.num_sortmerge_joins == 0, r.text
        assert "Python" not in r.text, r.text

    def test_jq_entries_bindings_stays_native(self, spark):
        # with_entries key rewrites run the jq binary per COLUMN at
        # compile time; the executed plan must be pure Catalyst — no
        # Python evaluation, no MapInPandas (binary fallback), and the
        # variable-binding snapshot must not survive into the output
        r = report(spark, "q_jq_entries_bindings")
        assert "Python" not in r.text, r.text
        assert "MapInPandas" not in r.text, r.text
        assert "__jq_var_" not in r.text.split("Output")[0], r.text
        assert "mapInPandas" not in r.text.lower()


class TestRound3SessionTwoPlans:
    def test_gopher_rules_map_only(self, spark):
        # rule evaluation is pure Column arithmetic: no joins, no
        # aggregation, no Python — the only Exchange is the
        # presentation sort
        r = report(spark, "quality_gopher_rules")
        assert "Python" not in r.text, r.text
        assert r.num_broadcast_joins == 0 and r.num_sortmerge_joins == 0
        # one physical exchange (the presentation sort) — the report
        # counts it twice (tree header + detail section)
        assert r.num_exchanges <= 2, r.text
        assert set(r.scan_columns()[0]) == {"doc_id", "text"}

    def test_split_assignment_map_only(self, spark):
        r = report(spark, "split_train_valid_test")
        assert "Python" not in r.text, r.text
        assert r.num_exchanges <= 2, r.text
        assert set(r.scan_columns()[0]) == {"doc_id", "text"}

    def test_capture_stage_is_filter_project(self, spark):
        # capture compiles to RLIKE filter + regexp_extract projection
        # over one scan — no jq binary (mapInPandas), no joins
        r = report(spark, "q_jq_capture_stage")
        assert "mapInPandas" not in r.text.lower(), r.text
        assert "RLIKE" in r.text or "rlike" in r.text, r.text
        assert r.num_broadcast_joins == 0 and r.num_sortmerge_joins == 0
        assert set(r.scan_columns()[0]) == {"doc_id", "lang"}

    def test_jq_fanout_union_no_extra_shuffle(self, spark):
        # the comma operator unions two projections of the SAME scan;
        # only the presentation sort may exchange
        r = report(spark, "q_jq_builtins_fanout")
        assert "mapInPandas" not in r.text.lower(), r.text
        assert "Union" in r.text, r.text
        assert r.num_exchanges <= 2, r.text


class TestLakehouseAndTokenizerPlans:
    def test_bpe_merges_vocab_scale_shape(self, spark):
        # round 5: each step's winning pair is a 1-row model COLLECT
        # (like centroids) applied as literals, and every vocabulary
        # state is localCheckpoint'd (plan truncation — persist alone
        # left analysis cost growing exponentially with merge depth)
        # with the superseded state's blocks freed. The returned merge
        # table is therefore a driver-built frame: no joins, no
        # shuffles beyond its presentation sort, and nothing left
        # pinned (tests/test_tokenizer.py::TestBoundedStorage drives
        # 50 merges and asserts zero lingering persisted RDDs).
        r = report(spark, "tokenizer_bpe_merges")
        assert r.num_sortmerge_joins == 0, r.text
        assert r.num_nested_loop_joins == 0, r.text
        # (the returned merge table is a driver-local parallelize —
        # a "Scan ExistingRDD" — so no Python-free assertion here; the
        # training itself ran all-JVM, job-by-job, before this plan)
        # persisted-RDD count must not GROW across a run (other tests
        # in the shared session legitimately hold cached frames, so a
        # global zero-check would race)
        jsc = spark.sparkContext._jsc.sc()
        before = jsc.getPersistentRDDs().size()
        QS["tokenizer_bpe_merges"].spark(spark, SF_DIR).collect()
        after = jsc.getPersistentRDDs().size()
        assert after <= before, "trainer left cached state behind"

    def test_bpe_merges_scan_pruned_to_text(self, spark):
        r = report(spark, "tokenizer_bpe_merges")
        for cols in r.scan_columns():
            assert "lang" not in cols and "source" not in cols

    def test_bpe_encode_no_shuffle_before_aggregate(self, spark):
        # chained replaces are pure projections; the persisted encode
        # output feeds three consumers without recomputing the corpus
        r = report(spark, "tokenizer_bpe_encode")
        assert "InMemory" in r.text, "encoded corpus must be persisted"
        assert r.num_sortmerge_joins == 0, r.text

    def test_delta_merge_result_scan_pruned(self, spark):
        # the post-merge aggregate needs only (k, price): column
        # pruning must reach the parquet scans of the merged table
        r = report(spark, "delta_merge_upsert")
        for cols in r.scan_columns():
            assert "ts" not in cols, r.read_schemas

    def test_iceberg_snapshot_scan_pruned(self, spark):
        r = report(spark, "iceberg_snapshot_read")
        for cols in r.scan_columns():
            assert "ts" not in cols, r.read_schemas

    def test_perceptron_weight_vector_broadcast(self, spark):
        # every epoch joins the corpus-derived feature table against
        # the 64-row weight vector: that join must be BROADCAST (the
        # weight vector never shuffles the features) and the feature
        # table persisted (every epoch re-reads it)
        r = report(spark, "classifier_perceptron_train")
        assert r.num_broadcast_joins >= 2, r.text
        assert "InMemory" in r.text, "feature table must be persisted"
        assert r.num_nested_loop_joins == 0, r.text


class TestRound5Plans:
    def test_jq_paths_defs_stays_native(self, spark):
        # def inlining + setpath/delpaths rewrites + [paths] all
        # compile to Column algebra over one scan: no jq binary
        # (mapInPandas), no Python, no joins, only the presentation
        # sort exchanges
        r = report(spark, "q_jq_paths_defs")
        assert "mapInPandas" not in r.text.lower(), r.text
        assert "Python" not in r.text, r.text
        assert r.num_broadcast_joins == 0 and r.num_sortmerge_joins == 0
        assert r.num_exchanges <= 2, r.text
        assert set(r.scan_columns()[0]) == {"doc_id", "lang", "text"}

    def test_jq_generator_limit_stays_native(self, spark):
        # limit(3; .items[]) compiles to slice + explode (Generate) —
        # no jq binary (mapInPandas), no Python anywhere in the plan;
        # the only exchanges are the rollup groupBy and the
        # presentation sort
        r = report(spark, "q_jq_generator_limit")
        assert "mapInPandas" not in r.text.lower(), r.text
        assert "Python" not in r.text, r.text
        assert "Generate" in r.text, r.text  # the explode
        assert "slice(" in r.text, r.text    # the truncation

    def test_jq_recursive_descent_stays_native(self, spark):
        # [.. | strings] / [.. | numbers] compile to the schema-order
        # leaf census (concat/filter/transform/flatten Column algebra)
        # and getpath([.k1,.k2]) to a CASE chain — no jq binary
        # (mapInPandas), no Python, no joins; the only exchange is the
        # presentation sort
        r = report(spark, "q_jq_recursive_descent")
        assert "mapInPandas" not in r.text.lower(), r.text
        assert "Python" not in r.text, r.text
        assert r.num_broadcast_joins == 0 and r.num_sortmerge_joins == 0
        assert r.num_exchanges <= 2, r.text  # presentation sort only
        assert set(r.scan_columns()[0]) == {"doc_id", "lang", "text"}

    def test_dv_read_is_one_anti_join(self, spark):
        # deletion vectors apply as ONE left-anti join on
        # (file basename, _metadata.row_index) — the vectors decode in
        # an Arrow-batched pandas UDF over the tiny descriptor frame,
        # never per data file
        r = report(spark, "delta_deletion_vector_read")
        assert "LeftAnti" in r.text or "left_anti" in r.text.lower(), (
            r.text
        )
        # the decode is Arrow-batched (ArrowEvalPython), never the
        # row-at-a-time BatchEvalPython (the formatted report re-lists
        # shared subtrees, so counting occurrences over-states)
        assert "arrowevalpython" in r.text.lower(), r.text
        assert "batchevalpython" not in r.text.lower(), r.text

    def test_pos_delete_erasure_read_plan(self, spark):
        # the merge-on-read result of two positional-delete commits:
        # ONE seq-gated anti-join applies every delete file's
        # (file_path, pos) rows; no Python operator, no nested-loop /
        # cartesian join anywhere (VERDICT r8 item 7 — the behavioral
        # tests didn't pin the plan)
        r = report(spark, "iceberg_pos_delete_erasure")
        assert "LeftAnti" in r.text or "left_anti" in r.text.lower(), (
            r.text
        )
        assert "batchevalpython" not in r.text.lower(), r.text
        assert "mapinpandas" not in r.text.lower(), r.text
        assert r.num_nested_loop_joins == 0, r.text

    def test_eq_delete_read_is_anti_join(self, spark):
        # equality deletes apply as sequence-gated anti-joins over the
        # equality columns; the delete file reads once per column-set
        r = report(spark, "iceberg_eq_delete_erasure")
        assert "LeftAnti" in r.text or "left_anti" in r.text.lower(), (
            r.text
        )


class TestRound7Plans:
    def test_mapped_merge_read_stays_jvm(self, spark):
        # column-mapped merge + read: the logical↔physical translation
        # is projections and positional struct casts — pure Catalyst,
        # zero Python in the plan
        r = report(spark, "delta_mapped_merge")
        assert "Python" not in r.text, r.text
        assert "mapInPandas" not in r.text.lower(), r.text

    def test_delete_then_merge_read_is_anti_joins(self, spark):
        # the post-merge snapshot read: carried equality deletes apply
        # as sequence-gated anti-joins, vectors/deletes never decode
        # per file; no row-at-a-time Python anywhere
        r = report(spark, "iceberg_delete_then_merge")
        assert "batchevalpython" not in r.text.lower(), r.text
        assert "mapInPandas" not in r.text.lower(), r.text

    def test_compact_after_delete_read_is_plain_scan(self, spark):
        # post-compaction snapshot read of the oracle row: the
        # full-table compaction RETIRED the equality-delete manifest,
        # so the read is a plain scan + group-by — no anti-join, no
        # Python eval anywhere
        r = report(spark, "iceberg_compact_after_delete")
        assert "LeftAnti" not in r.text, r.text
        assert "batchevalpython" not in r.text.lower(), r.text
        assert "mapInPandas" not in r.text.lower(), r.text


class TestRound10Plans:
    def test_zorder_read_is_plain_pruned_scan(self, spark):
        # post-ZORDER skipping read: file pruning happened DRIVER-side
        # against the add-action stats, so the executed plan is a
        # plain scan + filter + aggregate — no Python, no joins
        r = report(spark, "delta_zorder_read")
        assert "Python" not in r.text, r.text
        assert r.num_nested_loop_joins == 0, r.text

    def test_iceberg_zorder_read_plan(self, spark):
        # same contract on the Iceberg side: bounds pruning is
        # manifest-level (driver), the executed read is scan+agg
        r = report(spark, "iceberg_zorder_read")
        assert "Python" not in r.text, r.text
        assert r.num_nested_loop_joins == 0, r.text

    def test_update_where_read_is_anti_join(self, spark):
        # the post-DML snapshot: positional deletes from the UPDATE
        # and DELETE commits apply as sequence-gated anti-joins; no
        # row-at-a-time Python, no nested-loop join anywhere
        r = report(spark, "iceberg_update_where")
        assert "LeftAnti" in r.text or "left_anti" in r.text.lower(), (
            r.text
        )
        assert "batchevalpython" not in r.text.lower(), r.text
        assert r.num_nested_loop_joins == 0, r.text

    def test_changelog_no_cartesian_no_python(self, spark):
        # the changelog derives from manifest diffs: per snapshot only
        # added/removed/delete-affected files read; the net step is
        # exceptAll (hash-partitioned), never a nested-loop join, and
        # nothing drops to row-at-a-time Python
        r = report(spark, "iceberg_changelog_read")
        assert r.num_nested_loop_joins == 0, r.text
        assert "batchevalpython" not in r.text.lower(), r.text

    def test_row_lineage_read_is_broadcast_derivation(self, spark):
        # _row_id derives from ONE broadcast (basename → first_row_id,
        # seq) over the position read — no shuffle join against the
        # data, no Python
        r = report(spark, "iceberg_row_lineage")
        assert r.num_broadcast_joins >= 1, r.text
        assert "batchevalpython" not in r.text.lower(), r.text
        assert r.num_nested_loop_joins == 0, r.text

    def test_delta_row_tracking_read_plan(self, spark):
        # _row_id derivation: one broadcast (basename → baseRowId,
        # defaultRowCommitVersion) over the scan — no shuffle join
        # against the data, no Python anywhere
        r = report(spark, "delta_row_tracking")
        assert r.num_broadcast_joins >= 1, r.text
        assert "batchevalpython" not in r.text.lower(), r.text
        assert r.num_nested_loop_joins == 0, r.text


class TestJqTostream:
    def test_tostream_python_free_single_scan(self, spark):
        # native tostream: pure Column CASE/concat work + one explode —
        # no jq binary (mapInPandas/BatchEvalPython), no join, no
        # shuffle beyond the final orderBy's range exchange
        r = report(spark, "q_jq_tostream")
        low = r.text.lower()
        assert "batchevalpython" not in low, r.text
        assert "mapinpandas" not in low, r.text
        assert "generate explode" in low or "explode" in low, r.text
        assert r.num_nested_loop_joins == 0, r.text
