"""Physical-plan regression tests.

Guard the plan properties the engine is designed around: broadcast
dimension joins, column-pruned scans, top-k as TakeOrderedAndProject,
single-exchange window dedup. A future edit that silently degrades one
of these (e.g. a lost broadcast hint turning into a sort-merge join)
fails here, not in production."""

from __future__ import annotations

import re

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = entry.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_region_revenue_broadcasts_all_dims(spark):
    plan = plan_of(spark, "region_revenue")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_daily_sales_prunes_scan_columns(spark):
    plan = plan_of(spark, "daily_sales")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_extendedprice", "l_shipdate"}


def test_top_k_plans_take_ordered(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "top_parts")


def test_window_dedup_single_exchange(spark):
    plan = plan_of(spark, "dedup_latest_line")
    assert plan.count("Exchange") == 1


def test_weekday_dim_join_is_broadcast(spark):
    plan = plan_of(spark, "weekday_purchases_preserved")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan


def test_props_filter_reaches_scan(spark):
    # Only ts (for nothing) — props query reads props only.
    plan = plan_of(spark, "props_k_buckets")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and m.group(1).startswith("props")


def test_mixture_sample_broadcasts_rate_table(spark):
    """The mixture resample must stay map-side: tiny rate table
    broadcast, no sort-merge join, no per-row sort anywhere."""
    plan = plan_of(spark, "mixture_sample_docs")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_concat_single_exchange(spark):
    """Concat-chunk packing is one window shuffle + arithmetic —
    a second Exchange means the shard partitioning stopped being
    reused by the window."""
    assert plan_of(spark, "pack_concat_docs").count("Exchange") == 1


def test_hash_sample_is_map_only(spark):
    """hash_sample is a filter on a hash of the key: zero exchanges,
    zero joins — the property that makes it free at any scale."""
    plan = plan_of(spark, "hash_sample_docs")
    assert plan.count("Exchange") == 0
    assert "Join" not in plan


def test_dedup_family_plans_single_scan(spark):
    """The near-dup detectors are written in bucket-pair form because
    their lambda-bearing subtrees defeat exchange reuse — a regression
    to a self-join shows up as a second scan of the input table.

    Checked with AQE off: AQE reuses identical shuffle stages at
    RUNTIME but leaves the static plan showing the duplicate subtrees,
    so only the non-adaptive plan makes reuse eligibility (the thing a
    canonicalization-breaking change would regress) visible as
    ReusedExchange. ngram_jaccard's collapsed form legitimately has
    two id-expansion branches over its lambda-free groupBy(text)
    aggregate — they must plan as ReusedExchange, not extra scans."""
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # embedding_near_dups is back to SINGLE-scan on the driver
        # corpus as of the r12 guard-skip follow-up: the collapse
        # probe's full pass (single-file corpus -> full-probe
        # fallback) proves every bucket under the cap, so the
        # row-grain mega-bucket guard — a count+min stats
        # pre-aggregation plus a broadcast star branch, measured
        # 1.32x on sf10 semantic_dedup
        # (AB_sf10_semantic_dedup_r12.json) — is certified away
        # (dedup._cap_guard_skippable) and the r11 plan returns
        # bit-identically. The guarded 4-scan/2-cached shape is
        # locked separately below on a pinned-collapse build (pins
        # skip the probe, so nothing can certify the guard away).
        for name, n_scans, n_cached in (
            ("ngram_jaccard_pairs", 1, 0),
            ("minhash_lsh_candidates", 1, 0),
            ("simhash_near_dups", 1, 0),
            ("embedding_near_dups", 1, 0),
        ):
            plan = plan_of(spark, name)
            assert plan.count("Scan parquet") == n_scans, (
                name,
                plan.count("Scan parquet"),
            )
            assert plan.count("InMemoryTableScan") == n_cached, (
                name,
                plan.count("InMemoryTableScan"),
            )
            # r9/r10 locks:
            # (a) TWO+ Generate nodes = the two-stage pair expansion
            #     ((i, window) index, then pairs) — a regression to
            #     the one-shot flatten(transform) form re-creates the
            #     O(bucket²)-in-one-row array that OOMed the sf10
            #     probe. The r10 window chunking (PAIR_CHUNK) rides
            #     the same index explode — see
            #     test_dedup_collapse.py chunk-parity tests for its
            #     functional lock. Applies to all four detectors.
            # (b) the text detectors' rule-7 expansion joins stay
            #     pinned to ShuffledHashJoin — Catalyst's static
            #     estimate once picked an 8 GB broadcast of the pair
            #     side. (The embedding family carries ids inline —
            #     no mapping joins to pin.)
            assert plan.count("Generate") >= 2, (name, plan)
        # (b) holds for the COLLAPSED form specifically — the r10
        # distinct-ratio auto-switch resolves the registry queries to
        # the uncollapsed form on the low-dup test corpus (no
        # expansion joins there), so pin collapse_exact=True here.
        import pos_api_pipeline_spark.llm.dedup as D
        from pos_api_pipeline_spark.session import read_parquet

        docs = read_parquet(spark, f"{SF}/documents.parquet")
        for name, df in {
            "jaccard": D.ngram_jaccard_pairs(docs, collapse_exact=True),
            "minhash": D.minhash_lsh_candidates(docs, collapse_exact=True),
            "simhash": D.simhash_near_dups(docs, collapse_exact=True),
        }.items():
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Generate") >= 2, (name, plan)
            assert plan.count("ShuffledHashJoin") >= 2, (name, plan)
            assert "BroadcastHashJoin" not in plan, name
        # The GUARDED embedding shape (r12 row-grain mega-bucket
        # path): pinning collapse skips the probe, so no full-corpus
        # stats exist to certify the guard away — 4 printed scans
        # (the cached stats subtree prints under both
        # InMemoryTableScan consumers; 3 run) and the broadcast star
        # branch stay locked here.
        from pos_api_pipeline_spark.llm import similarity as Sim

        emb = read_parquet(spark, f"{SF}/embeddings.parquet")
        guarded = Sim.embedding_near_dup_pairs(
            emb, dim=64, collapse_exact=False
        )
        plan = guarded._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 4, plan.count("Scan parquet")
        assert plan.count("InMemoryTableScan") == 2, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)


def test_funnel_plan_stays_flat(spark):
    """curation_funnel_stats is the one-pass flags design: documents
    scanned once, flags cached, two consumers (main agg + LSH
    branch). In r9 the detector's collapse_exact default silently
    re-widened it to 8 scans / 21 exchanges (a second exact-dedup of
    an already exact-unique frame) — 2.6× slower at sf0.1. Lock the
    scan count so the funnel can't re-widen without failing here."""
    plan = plan_of(spark, "curation_funnel_stats")
    assert plan.count("Scan parquet") <= 4, plan.count("Scan parquet")


def test_unigram_logprob_single_corpus_pass(spark):
    """r13: unigram_logprob's (id, term, tf) frame is checkpointed
    once and the corpus token total is sum(tf) over it — the
    pre-r13 second corpus scan (a map-only size(tokens) sum feeding
    the one-row broadcast) is gone. The printed plan reads the
    checkpoint RDD, so ANY parquet scan here means the second pass
    crept back."""
    plan = plan_of(spark, "unigram_logprob_scores")
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")


# The gram-span family on its one engine (curation._gram_spans):
# query -> (gram streams, exchange ceiling). Each gram stream is
# checkpointed, so its documents scan happens inside the checkpoint
# and the printed plan may show at most one more scan per stream
# (the span-text or excision re-attach).
GRAM_SPAN_QUERIES = {
    "sa_repeated_spans_exact": (1, 2),
    "sa_deduped_docs": (1, 2),
    "repeated_substring_spans": (1, 3),
    "benchmark_contaminated_spans": (2, 2),
    "span_decontaminated_docs": (2, 3),
}


def test_gram_span_family_single_sieve(spark):
    """Lock the unified gram-span shape on all five span queries:
    documents scanned at most once per gram stream, the gram-identity
    predicate applied as ONE LeftSemi join on (h1, h2) — never a
    sort-merge join on the gram identity, which would re-sort the
    whole gram stream — and no SinglePartition exchange funnelling
    the corpus through one task."""
    for name, (streams, max_exch) in GRAM_SPAN_QUERIES.items():
        plan = plan_of(spark, name)
        assert plan.count("Scan parquet") <= streams, (
            name, plan.count("Scan parquet"),
        )
        semis = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
        assert len(semis) == 1, (name, semis)
        assert "BroadcastHashJoin [h1#" in semis[0], (name, semis[0])
        assert not [
            ln for ln in plan.splitlines()
            if "SortMergeJoin" in ln and "h1#" in ln
        ], name
        assert "SinglePartition" not in plan, name
        n_shuffles = len(re.findall(r"\bExchange\b", plan))
        assert n_shuffles <= max_exch, (name, n_shuffles)


# Queries whose algorithm intentionally scores a broadcast candidate
# set against every row (brute-force baseline / tiny broadcast side) —
# the ONLY places a nested-loop/cartesian strategy is acceptable.
CROSS_JOIN_OK = {
    "ann_cosine_topk",
    # one-row Bloom-filter scalar carry (dense word array) probed
    # map-side before the exact verify
    "contamination_bloom_check",
    "lsh_ann_topk",
    "ivf_ann_topk",
    # IVF/SemDeDup centroid assignment scores the corpus against a
    # broadcast n_centroids-row frame — deliberate tiny-side NLJ
    "ivf_pq_adc_topk",
    "semantic_dedup_survivors",
    # recall measurements embed the brute-force ground truth, which is
    # a deliberate broadcast cross join (queries × corpus)
    "ivf_recall_at_k",
    "ivf_pq_recall_at_k",
    "ivf_trained_recall_at_k",
    # label-aware exact-baseline family: deliberate broadcast of the
    # bounded query set against the corpus (same shape as ann_cosine)
    "hard_negatives_topk",
    "knn_label_accuracy",
    # JL recall measurement embeds TWO brute-force broadcasts
    # (original + projected space)
    "jl_projection_recall",
    # one-row corpus-total broadcast (TPC-H Q11's scalar subquery)
    "important_part_value",
    # one-row token-total broadcasts on both sides of the KL ratio
    "vocab_drift_en",
    # one-row corpus-max-date broadcast for the recency anchor
    "rfm_customer_segments",
    # same, plus the one-row percentile-cuts broadcast
    "rfm_segments_scalable",
    # one-row corpus-total broadcasts (bucket totals / N+avgdl /
    # weight renormalizer) in the DSIR / BM25 / temperature family
    "dsir_log_weights",
    "dsir_resample_top50",
    "temperature_mixture_lang",
    "bm25_topk_docs",
    # broadcast n_centroids-row prototypicality assignment
    "prototype_prune_half",
    # the corpus doc-count N rides in as a lazy ONE-ROW broadcast
    # scalar (keeps the operator single-plan instead of an eager
    # .count() action) — nested-loop against one row is free
    "tfidf_top_terms",
    # same one-row-scalar shape: the corpus total-token count
    "unigram_logprob_scores",
    # same one-row-scalar shape: the corpus doc count N for the exact
    # decile rank arithmetic
    "doc_length_deciles",
    # same one-row-scalar shape: the global avg-balance threshold
    # (TPC-H Q22's scalar subquery) rides as a one-row broadcast
    "dormant_rich_customers",
    # one-row exact-overlap frame × one-row KMV-estimate frame —
    # a single broadcast NLJ joining two scalar rows
    "kmv_corpus_overlap",
    # one-row SQ8 min/max stats broadcast + the deliberate
    # queries × corpus broadcast (same shape as ann_cosine_topk);
    # the recall variant embeds the brute-force truth too
    "sq8_adc_topk",
    "sq8_recall_at_k",
    # broadcast n_centroids-row assignment NLJ (same as semantic_dedup)
    "semantic_cluster_stats",
    # one-row corpus-budget broadcast for the water-filling windows
    "unimax_lang_allocation",
    # embeds the bounded brute-force dense ranking (one-query
    # broadcast) plus BM25's one-row N+avgdl scalar
    "hybrid_rrf_fusion",
}


def test_no_accidental_cartesian_products(spark):
    """Global guard: no query may silently plan a CartesianProduct or
    a non-broadcast nested loop — the classic footgun when a join
    condition gets lost in a refactor."""
    bad = []
    for name in entry.queries():
        plan = plan_of(spark, name)
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in CROSS_JOIN_OK:
            bad.append((name, "BroadcastNestedLoopJoin"))
    assert not bad, bad


def test_curation_e2e_scan_count_locked(spark):
    """curation_pipeline_e2e is the deliberately-CHAINED composition
    (each stage consumes the previous stage's survivors, with
    stage-boundary caches) — its 14-scan / 19-exchange static shape
    is intended, unlike the funnel's one-pass flags design (an r13
    localCheckpoint of the gopher stage boundary measured 1.64x
    SLOWER at sf0.1 and was reverted —
    BENCH_e2e_fltckpt_ab_sf0.1_r13.json). Lock BOTH counts at the
    intended shape so a silent re-widening (the funnel's r9 failure
    mode: a collapse probe or lost cache adding a second exact-dedup
    pass per stage — which grew EXCHANGES first) fails here instead
    of surfacing as an unattributed bench regression. Exchange
    counting follows tools/plan_audit.py: ``\\bExchange\\b`` matches
    only shuffle exchanges (not BroadcastExchange / ReusedExchange);
    the raw count is a print-multiplicity artifact — the cached
    subtree (its final AND initial AQE plan) prints once per
    InMemoryTableScan consumer — over FIVE real shuffles, each on a
    distinct fundamental stage key (md5 exact-dedup,
    signature-by-id, (band,bhash) buckets, candidate-id distinct,
    boundary-bin window), which the normalized-descriptor lock pins
    exactly."""
    plan = plan_of(spark, "curation_pipeline_e2e")
    assert plan.count("Scan parquet") <= 14, plan.count("Scan parquet")
    n_shuffles = len(re.findall(r"\bExchange\b", plan))
    assert n_shuffles <= 19, n_shuffles
    real = {
        re.sub(r"#\d+L?|, \[plan_id=\d+\]", "", m.group(0))
        for m in re.finditer(r"(?<!\w)Exchange [^\n]*", plan)
    }
    assert len(real) <= 5, sorted(real)
