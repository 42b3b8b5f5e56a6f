"""Physical-plan regression tests: a correct-but-shuffling plan is a
regression at 100 TB even when results match. These pin the plan
properties the engine's scale story depends on."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from streaming_data_pipeline_azure_spark.operators import (
    relational,
    similarity,
    text as tx,
)
from streaming_data_pipeline_azure_spark.operators.enrich import enrich_orders
from streaming_data_pipeline_azure_spark.plans.inspect import physical_plan


def _enriched(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return enrich_orders(
        orders, customer,
        order_id_col="o_orderkey", customer_fk_col="o_custkey",
        amount_col="o_totalprice", customer_pk_col="c_custkey",
        customer_name_col="c_name", city_col="c_mktsegment",
    )


def test_city_filter_pushes_through_join_to_scan(spark, sf_dir):
    """F1 on the joined view must reach the customer parquet scan as a
    pushed filter — at scale this skips row groups before the join."""
    df = relational.filter_by_city(_enriched(spark, sf_dir), "BUILDING")
    plan = physical_plan(df)
    assert re.search(r"PushedFilters:.*c_mktsegment.*BUILDING", plan), plan


def test_projection_prunes_parquet_columns(spark, sf_dir):
    """token_stats reads a 2-column slice of documents — the scan schema
    must not include lang/source/n_chars."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = docs.select("doc_id", tx.token_count("text").alias("n_tokens"))
    plan = physical_plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}, cols


def test_topk_avoids_global_sort(spark, sf_dir):
    """Brute-force top-k must plan as TakeOrderedAndProject (per-partition
    heaps), never a full Sort + Exchange of the corpus."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = similarity.topk_bruteforce(emb, "embedding", [0.0] * 64, k=10)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_groupby_has_partial_aggregation(spark, sf_dir):
    """A2/A3 shapes must partial-aggregate map-side: two HashAggregate
    nodes around one Exchange, so shuffle volume is O(groups) not O(rows)."""
    df = relational.avg_purchase_by_city(_enriched(spark, sf_dir))
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan, plan


def test_enrichment_join_never_shuffles_stream_side(spark, sf_dir):
    """The orders side of J1 must not appear below an Exchange — broadcast
    of the dimension is the whole scale story for the flagship join."""
    plan = physical_plan(_enriched(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the only Exchange allowed is the BroadcastExchange of the dimension
    exchanges = re.findall(r"(\w*Exchange)", plan)
    assert set(exchanges) <= {"BroadcastExchange"}, exchanges


def test_scalar_agg_is_two_phase(spark, sf_dir):
    """A1 (whole-table AVG) must reduce per-partition then merge — a
    single-partition pre-shuffle would serialize the scan."""
    df = relational.avg_purchase(_enriched(spark, sf_dir), "BUILDING")
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2, plan


def test_skewed_join_query_uses_salted_path(spark, sf_dir):
    """The registered skewed_join_totals query must actually run through
    salted_join: the join keys include the deterministic salt (xxhash64
    on the big side, an exploded salt sequence replicating the dim), so
    the hot key's rows spread over n_salts tasks instead of one
    straggler."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["skewed_join_totals"](spark, sf_dir)
    plan = physical_plan(df)
    assert "xxhash64" in plan, plan
    assert re.search(r"[Ee]xplode", plan), plan
    # still an equi-join on (key, salt) — not a degenerate cross product
    assert "CartesianProduct" not in plan, plan


def test_incremental_dedup_corpus_stays_narrow(spark, sf_dir):
    """dedup_incremental's corpus side must collapse to a broadcast
    DISTINCT fingerprint set before the anti-join — the corpus scan reads
    only the fingerprint inputs (text [+ the source split column]), never
    doc_id/lang/n_chars, and the batch side anti-joins without an
    exchange of its own."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["dedup_incremental"](spark, sf_dir)
    plan = physical_plan(df)
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    narrow = [s for s in schemas if "doc_id" not in s and "text" in s]
    assert narrow, schemas  # at least one corpus scan pruned to fp inputs


def test_decontamination_broadcasts_eval_side(spark, sf_dir):
    """The corpus side of decontamination must probe a broadcast of the
    eval grams — a shuffle of the corpus' exploded n-grams would be the
    dominant cost at scale. Also: exactly one Exchange (the final
    per-doc count), nothing shuffles pre-join."""
    from streaming_data_pipeline_azure_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    plan = physical_plan(corpus.ngram_overlap(train, ev, n=5))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # formatted mode renders each shuffle as an "(N) Exchange" block
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
    # one for the eval-side distinct, one for the final per-doc count;
    # the exploded corpus grams themselves never hash-partition
    assert 1 <= n_exchanges <= 2, plan


def test_chunking_is_shuffle_free(spark, sf_dir):
    from streaming_data_pipeline_azure_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = physical_plan(corpus.chunk_documents(docs))
    assert "Exchange" not in plan, plan


def test_quantization_is_shuffle_free(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = physical_plan(
        similarity.quantize_int8_stats(emb, "vec_id", "embedding")
    )
    assert "Exchange" not in plan, plan


def test_centroids_aggregate_partially_before_shuffle(spark, sf_dir):
    """Element sums must collapse map-side (partial_sum before the
    exchange) so the shuffle carries (group, dim) partials, not every
    exploded element."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = physical_plan(
        similarity.groupwise_centroids(emb, "label", "embedding")
    )
    assert "partial_sum" in plan, plan


def test_skewed_agg_query_uses_two_phase_salted_path(spark, sf_dir):
    """The registered skewed_agg_totals query must actually take the
    salted path: a deterministic xxhash64 row salt and two hash
    aggregations (per-(key,salt) then per-key merge) across two
    exchanges — not a single-stage group-by on the hot key."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        str(pathlib.Path(__file__).resolve().parents[1] / "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    plan = physical_plan(mod._skewed_agg_totals(spark, sf_dir))
    assert "xxhash64" in plan, plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchanges == 2, plan
    assert re.search(r"hashpartitioning\(grp_key\S* __salt", plan), plan


def test_incremental_neardup_probe_reads_only_index(spark, tmp_path):
    """MinHashCorpusIndex probe (VERDICT r2 #1): the corpus participates
    ONLY through its persisted signature index — every parquet scan in
    the probe plan points at the index directory (the corpus text is
    never re-read), the batch side broadcasts into both corpus-side
    joins, and nothing sort-merge-joins (zero corpus shuffle)."""
    from streaming_data_pipeline_azure_spark.operators import dedup

    docs = [(i, f"corpus document number {i} about topic {i % 7} with shared words") for i in range(40)]
    idx = dedup.MinHashCorpusIndex(str(tmp_path / "idx"), "doc_id", threshold=0.5)
    idx.build(spark.createDataFrame(docs, ["doc_id", "text"]), "text")

    batch = spark.createDataFrame(
        [(100 + i, f"new crawl delta doc {i} with some shared words") for i in range(5)],
        ["doc_id", "text"],
    )  # local relation: any parquet scan in the plan must be the index
    plan = physical_plan(idx.probe_pairs(batch, "text"))
    locations = re.findall(r"Location:.*\[(.*)\]", plan)
    parquet_locs = [loc for loc in locations if loc]
    assert parquet_locs, plan
    for loc in parquet_locs:
        assert str(tmp_path / "idx") in loc, (loc, plan)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def _plan_nodes(plan) -> list:
    """Every node of a physical plan, descending through AQE stages and
    into each cached relation's plan ONCE — the plan string repeats a
    cached relation's lineage at every reference, so counting scans in
    it overcounts. A reused exchange is not descended into: its subtree
    ran once, where it was first used."""
    seen, out = set(), []

    def visit(node) -> None:
        name = node.getClass().getSimpleName()
        out.append(node)
        if name == "AdaptiveSparkPlanExec":
            visit(node.executedPlan())
        elif "QueryStageExec" in name:
            visit(node.plan())
        elif name == "InMemoryTableScanExec":
            builder = node.relation().cacheBuilder()
            if builder.hashCode() not in seen:
                seen.add(builder.hashCode())
                visit(builder.cachedPlan())
        elif name != "ReusedExchangeExec":
            ch = node.children()
            for i in range(ch.size()):
                visit(ch.apply(i))

    visit(plan)
    return out


def test_filter_novel_probes_corpus_once(spark, tmp_path):
    """filter_novel with the within-batch pass runs the corpus probe
    ONCE: its loser ids are persisted and read by both the within-batch
    pass and the final anti-join, so the executed plan scans the index's
    bands/ and shingles/ tables once each, and the final anti-join is
    planned as a broadcast of the batch-bounded loser ids, never a
    sort-merge join."""
    from streaming_data_pipeline_azure_spark.functions.cache import (
        release_caches,
    )
    from streaming_data_pipeline_azure_spark.operators import dedup

    docs = [(i, f"corpus document number {i} about topic {i % 7} with shared words")
            for i in range(40)]
    idx = dedup.MinHashCorpusIndex(str(tmp_path / "idx"), "doc_id", threshold=0.5)
    idx.build(spark.createDataFrame(docs, ["doc_id", "text"]), "text")
    fresh = "a brand new article describing spark physical plans in careful detail"
    batch = spark.createDataFrame(
        [(100 + i, f"new crawl delta doc {i} with some shared words") for i in range(5)]
        + [(200, docs[3][1]),                   # corpus re-send
           (300, fresh), (301, fresh + " today")],  # within-batch near-dup
        ["doc_id", "text"],
    )
    out = idx.filter_novel(batch, "text", dedup_within=True)
    assert 300 in {r["doc_id"] for r in out.collect()}
    executed = out._jdf.queryExecution().executedPlan()
    final, initial = _plan_nodes(executed), _plan_nodes(executed.initialPlan())
    release_caches()
    roots = [
        str(n.relation().location().rootPaths().head())
        for n in final if n.getClass().getSimpleName() == "FileSourceScanExec"
    ]
    assert sum(r.endswith("/bands") for r in roots) == 1, roots
    assert sum(r.endswith("/shingles") for r in roots) == 1, roots
    names = {n.getClass().getSimpleName() for n in final}
    assert "SortMergeJoinExec" not in names, names
    # planned as a broadcast, not left to AQE's runtime demotion (the
    # within-batch verify joins may still plan as sort-merge: AQE sizes
    # those from the batch)
    anti_smj = [
        n.simpleString(100) for n in initial
        if n.getClass().getSimpleName() == "SortMergeJoinExec"
        and str(n.joinType()) == "LeftAnti"
    ]
    assert not anti_smj, anti_smj


def test_gram_index_scrub_reads_only_index(spark, tmp_path):
    """GramCorpusIndex.scrub (r5): the corpus participates ONLY through
    its persisted gram-hash set — every parquet scan in the probe plan
    points at the index directory, the delta side broadcasts into the
    index scan and the matched hashes broadcast back, and nothing
    sort-merge-joins (zero corpus shuffle per delta)."""
    from streaming_data_pipeline_azure_spark.operators import corpus

    docs = [(i, f"corpus document number {i} about topic {i % 7} with shared words")
            for i in range(40)]
    idx = corpus.GramCorpusIndex(str(tmp_path / "gidx"), n=5)
    idx.build(spark.createDataFrame(docs, ["doc_id", "text"]), "doc_id", "text")

    batch = spark.createDataFrame(
        [(100 + i, f"new crawl delta doc {i} with some shared words") for i in range(5)],
        ["doc_id", "text"],
    )  # local relation: any parquet scan in the plan must be the index
    plan = physical_plan(idx.scrub(batch, "doc_id", "text"))
    locations = re.findall(r"Location:.*\[(.*)\]", plan)
    parquet_locs = [loc for loc in locations if loc]
    assert parquet_locs, plan
    for loc in parquet_locs:
        assert str(tmp_path / "gidx") in loc, (loc, plan)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ivf_probe_pairs_reads_only_index_partitions(spark, tmp_path):
    """IvfIndex.probe_pairs (VERDICT r3 #2): the corpus participates ONLY
    through its persisted IVF layout — every parquet scan in the probe
    plan points at the index directory (the source table is never
    re-read), the vectors scan is partition-pruned to the probed
    centroids, the batch side broadcasts into the corpus-side join, and
    nothing sort-merge-joins (zero corpus shuffle)."""
    from streaming_data_pipeline_azure_spark.operators import similarity

    rows = [
        (i, [float(10.0 * (i % 4 == d)) + 0.01 * ((i * 7 + d) % 5)
             for d in range(8)])
        for i in range(64)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = similarity.IvfIndex(str(tmp_path / "ivf"), dim=8, n_planes=3, seed=5)
    idx.build(corpus, "embedding")

    batch = spark.createDataFrame(
        rows[:4], "vec_id long, embedding array<double>"
    )  # local relation: any parquet scan in the plan must be the index
    plan = physical_plan(idx.probe_pairs(batch, threshold=0.9, n_probe=2))
    locations = re.findall(r"Location:.*\[(.*)\]", plan)
    parquet_locs = [loc for loc in locations if loc]
    assert parquet_locs, plan
    for loc in parquet_locs:
        assert str(tmp_path / "ivf") in loc, (loc, plan)
    assert re.search(r"PartitionFilters: \[.*centroid_id", plan), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_exact_anchor_probes_never_shuffle_corpus_side(spark, sf_dir):
    """The corpus-probe stage of both incremental exact anchors keeps the
    batch side broadcast — the anchors' linear-per-delta cost is the
    corpus SCAN, never a corpus join shuffle. (The subsequent
    within-batch dedup pass shuffles only the delta, which is out of
    this contract.)"""
    import importlib.util
    import pathlib

    from streaming_data_pipeline_azure_spark.operators import dedup

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        str(pathlib.Path(__file__).resolve().parents[1] / "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    corpus, batch = mod._doc_delta_split(spark, sf_dir)
    text_plan = physical_plan(
        dedup.batch_corpus_jaccard_pairs(corpus, batch, "doc_id", "text")
    )
    assert "SortMergeJoin" not in text_plan, text_plan
    assert text_plan.count("BroadcastHashJoin") >= 2, text_plan

    emb_plan = physical_plan(
        mod._embedding_neardup_incremental_exact(spark, sf_dir)
    )
    # the cosine kernel is mapInPandas over the corpus scan; the only
    # join is the broadcast anti-join dropping matched batch rows
    assert "SortMergeJoin" not in emb_plan, emb_plan
    assert re.search(r"BroadcastHashJoin .*LeftAnti", emb_plan), emb_plan


def test_no_cartesian_products_across_query_surface(spark, sf_dir):
    """Plan-regression guard: none of the representative queries may
    plan a CartesianProduct (a non-broadcast cross join — the one join
    shape that is always a scale-killer). Broadcast nested-loop joins
    against one-row stat frames are fine and not flagged. Runs on plan
    generation only (no noop execution), so the sweep stays cheap."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py"),
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    # representative non-index-backed queries across every operator
    # family (index probes have their own dedicated plan tests)
    names = [
        "enriched_orders", "pricing_summary", "orders_by_nation",
        "nation_trade_flows", "nation_market_share", "skewed_join_totals",
        "skewed_agg_totals", "events_sessionized", "events_in_sessions",
        "asof_latest_click", "funnel_conversion", "cohort_retention",
        "span_dedup", "span_decontaminate", "source_mirror_overlap",
        "bm25_search", "hybrid_search", "dedup_jaccard_exact",
        "dedup_incremental", "embedding_neardup_exact", "similarity_topk",
        "multiquery_topk", "pack_documents", "tfidf_top_terms",
        "decontaminate_ngrams", "cross_doc_repetition", "price_histogram",
        "daily_gapfill", "user_activity_similarity", "compression_stats",
        # r5 continuation
        "scd2_order_status", "cdc_apply_snapshot", "fuzzy_customer_pairs",
        "pq_codes", "event_transitions", "events_value_outliers",
        "copurchase_lift", "priority_sample_orders",
        "priority_sample_estimate", "copurchase_graph_stats",
        "top_session_paths", "price_trend_regression", "decontaminate_bloom",
        # r7 third session
        "part_price_band_pairs", "customer_jw_scores",
        "event_precedence_pairs", "contamination_matrix",
        "passage_bm25_search", "weekly_growth_accounting",
        "revenue_holt_forecast", "lm_dirichlet_search",
        "term_proximity_search", "search_snippets",
        "user_recency_weighted_value", "rolling_active_users",
        "priority_winsorized_price", "acctbal_quantile_normalized",
        # r7 fourth session
        "user_activity_streaks", "revenue_max_drawdown",
        "priority_class_weights", "vocab_coverage_stats",
        "click_purchase_conversions", "stemmed_top_terms",
        "part_abc_classes", "revenue_naive_backtest",
        "order_sample_sweep", "spell_suggestions",
        "rake_keywords", "event_value_percentile_bins",
        "price_ks_test", "priority_mannwhitney", "code_switch_stats",
        "dow_adjusted_anomalies", "ab_cuped_stats",
        "temporal_split_check", "brand_smoothed_encoding",
        "weekly_audience_overlap", "shard_rebalance_report",
        "brand_price_ks", "discount_price_isotonic", "lang_id_kappa",
        "channel_shapley", "user_event_overdispersion",
        "price_quantity_spearman", "ab_did_estimate",
        "customer_key_skew", "brand_trimmed_price",
        "copurchase_degree_zipf", "standardized_segment_lift",
        "join_cardinality_audit",
    ]
    queries = entry.queries()
    offenders = {}
    for name in names:
        plan = physical_plan(queries[name](spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders[name] = plan.splitlines()[0]
    assert not offenders, offenders


# ---- shuffle-VOLUME metrics (VERDICT r5 #3): plan-shape tests prove
# what shuffles; these read the executed plan's ShuffleExchange write
# metrics and prove how MUCH — the byte-level form of the 100 TB
# scale claims.


def _planted_span_corpus(spark, tmp_path, word_len, n_docs=60, n_tokens=120):
    """Parquet corpus (>= cores files, so _ensure_parallelism is the
    documented no-op) where half the docs share a 12-token boilerplate
    block — real duplicated spans, text volume scaled by word length."""
    import random

    rng = random.Random(3)
    vocab = [
        "".join(rng.choice("abcdefghij") for _ in range(word_len))
        for _ in range(200)
    ]
    boiler = " ".join(vocab[i] for i in range(12))
    rows = []
    for d in range(n_docs):
        txt = " ".join(vocab[rng.randrange(200)] for _ in range(n_tokens))
        if d % 2 == 0:
            txt = boiler + " " + txt
        rows.append((d, txt))
    path = str(tmp_path / f"span_corpus_{word_len}")
    spark.createDataFrame(rows, "doc_id long, text string").repartition(
        4
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_span_dedup_shuffle_volume_tracks_grams_not_text(spark, tmp_path):
    """drop_duplicate_spans claims ONE corpus-wide shuffle of 8-byte
    gram hashes plus a tiny per-doc starts aggregation — so its total
    shuffle bytes must be (a) invariant when the TEXT grows ~8x at the
    same gram count, and (b) well under the corpus text size. A change
    that starts shuffling token arrays or text fails both."""
    from streaming_data_pipeline_azure_spark.operators import corpus
    from streaming_data_pipeline_azure_spark.plans.inspect import (
        shuffle_write_metrics,
    )

    totals = {}
    for word_len in (4, 40):
        docs = _planted_span_corpus(spark, tmp_path, word_len)
        text_bytes = docs.agg(F.sum(F.length("text"))).collect()[0][0]
        metrics = shuffle_write_metrics(corpus.drop_duplicate_spans(docs))
        totals[word_len] = (sum(m["bytes"] for m in metrics), text_bytes)
    small, big = totals[4], totals[40]
    assert big[1] > 6 * small[1]              # text really did grow ~8x
    # gram-hash shuffling is word-length invariant (±25% for framing)
    assert big[0] < 1.25 * small[0], totals
    # and comfortably below the corpus text volume it refuses to carry
    assert big[0] < 0.5 * big[1], totals


def test_minhash_index_probe_shuffles_nothing(spark, tmp_path):
    """The incremental MinHash probe is delta-sized by contract: the
    delta's band/shingle tables broadcast against the index's pruned
    band partitions, so the probe plan must contain ZERO shuffle
    exchanges — O(delta) data movement, independent of corpus size
    (verified against a 4x larger index)."""
    import random

    from streaming_data_pipeline_azure_spark.operators import dedup
    from streaming_data_pipeline_azure_spark.plans.inspect import (
        shuffle_write_metrics,
    )

    def corpus_rows(n, seed=9):
        rng = random.Random(seed)
        vocab = ["w%03d" % i for i in range(500)]
        return [
            (i, " ".join(vocab[rng.randrange(500)] for _ in range(60)))
            for i in range(n)
        ]

    delta_rows = corpus_rows(5, seed=77)
    for n in (100, 400):
        idx = dedup.MinHashCorpusIndex(str(tmp_path / f"mh_idx_{n}"))
        idx.build(
            spark.createDataFrame(
                corpus_rows(n), "doc_id long, text string"
            ).repartition(4)
        )
        delta = spark.createDataFrame(delta_rows, "doc_id long, text string")
        metrics = shuffle_write_metrics(idx.probe_pairs(delta))
        assert metrics == [], (n, metrics)


def test_exact_dedup_shuffles_distinct_keys_not_rows(spark):
    """exact_dedup's docstring promises map-side partial aggregation:
    shuffle volume O(distinct keys x map partitions), not O(rows).
    50k rows / 10 keys must shuffle at most a few hundred records."""
    from streaming_data_pipeline_azure_spark.operators import dedup
    from streaming_data_pipeline_azure_spark.plans.inspect import (
        shuffle_write_metrics,
    )

    rows = spark.range(50000).select(
        (F.col("id") % 10).alias("k"),
        F.col("id").alias("tb"),
        F.concat(F.lit("payload-"), F.col("id")).alias("payload"),
    )
    metrics = shuffle_write_metrics(dedup.exact_dedup(rows, ["k"], "tb"))
    assert len(metrics) == 1, metrics         # one hash shuffle, ever
    assert metrics[0]["records"] <= 10 * 32, metrics   # keys x maps
    assert metrics[0]["bytes"] < 50_000, metrics       # not the 50k rows


def test_enrich_join_shuffles_nothing(spark, sf_dir):
    """The flagship stream-static enrich join broadcasts the dimension:
    the executed plan must move ZERO shuffle bytes."""
    from streaming_data_pipeline_azure_spark.plans.inspect import (
        shuffle_write_metrics,
    )

    metrics = shuffle_write_metrics(_enriched(spark, sf_dir))
    assert metrics == [], metrics


def test_gram_index_scrub_shuffles_delta_not_corpus(spark, tmp_path):
    """GramCorpusIndex.scrub claims zero corpus shuffle per delta (the
    delta's distinct hashes broadcast-semi-join the persisted gram set,
    matched hashes broadcast back, starts broadcast into the rewrite).
    Verified: the scrub plan's total shuffle bytes are tiny and
    invariant when the indexed corpus grows 4x."""
    import random

    from streaming_data_pipeline_azure_spark.operators import corpus
    from streaming_data_pipeline_azure_spark.plans.inspect import (
        shuffle_write_metrics,
    )

    def rows(n, seed):
        rng = random.Random(seed)
        vocab = ["t%03d" % i for i in range(300)]
        return [
            (i, " ".join(vocab[rng.randrange(300)] for _ in range(80)))
            for i in range(n)
        ]

    delta_rows = rows(5, seed=55)
    totals = {}
    for n in (100, 400):
        idx = corpus.GramCorpusIndex(str(tmp_path / f"gram_idx_{n}"))
        idx.build(
            spark.createDataFrame(
                rows(n, seed=1), "doc_id long, text string"
            ).repartition(4)
        )
        delta = spark.createDataFrame(delta_rows, "doc_id long, text string")
        metrics = shuffle_write_metrics(idx.scrub(delta))
        totals[n] = sum(m["bytes"] for m in metrics)
    assert totals[100] < 100_000, totals       # delta-sized, absolutely
    assert totals[400] <= max(totals[100] * 1.5, 10_000), totals


def test_disjunctive_predicate_pushes_part_side_to_scan(spark, sf_dir):
    """Q19-shape (r7): the OR-of-ANDs predicate spans both join sides,
    but every disjunct constrains p_brand/p_size — Catalyst must
    extract that part-side OR and push it into the part parquet scan
    (at 100 TB this prunes the build side before the broadcast), while
    the mixed brand x quantity residual evaluates post-join."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["disjunctive_revenue"](spark, sf_dir)
    plan = physical_plan(df)
    m = re.search(r"PushedFilters: \[([^\]]*p_brand[^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    assert "Or" in pushed and "p_size" in pushed, pushed
    # the quantity side of each disjunct cannot push to part; it must
    # still gate the aggregate (post-join filter references l_quantity)
    assert "l_quantity" in plan


def test_late_shipment_exists_plans_as_semi_join(spark, sf_dir):
    """Q4-shape (r7): the EXISTS-correlated subquery must execute as a
    LEFT SEMI join (first-match early-out; the lineitem side never
    fans out order rows), not as an aggregate-then-inner-join."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["late_shipment_orders"](spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftSemi" in plan, plan


def test_top_waiting_suppliers_shares_orderkey_exchange(spark, sf_dir):
    """Q21-shape (r7): the semi and anti self-joins both hash lineitem
    on l_orderkey; the supplier lookup must broadcast (never shuffle
    the tiny dimension), and the top-10 must be TakeOrderedAndProject,
    not a global sort."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["top_waiting_suppliers"](spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_semantic_dedup_shuffles_rows_not_pairs(spark):
    """SemDeDup's pair volume is sum(|cluster|²)/2, but nothing
    quadratic may ever cross the wire: the cluster-scoped self-join
    shuffles each vector row O(1) times (both join legs + the loser
    distinct + the anti-join), so total shuffled RECORDS stay linear
    in n while candidate pairs grow ~n². Verified by metrics at two
    sizes: 4x rows → ~4x shuffled records (not 16x)."""
    from streaming_data_pipeline_azure_spark.operators.similarity import (
        semantic_dedup,
    )
    from streaming_data_pipeline_azure_spark.plans.inspect import (
        shuffle_write_metrics,
    )

    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]

    def run(n):
        df = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 2).cast("double"),
                ((F.col("id") + 1) % 2).cast("double"),
                (F.col("id") % 97).cast("double") / 1000.0,
            ).alias("embedding"),
        ).repartition(8)
        kept = semantic_dedup(df, "vec_id", "embedding", cents,
                              threshold=0.999)
        return sum(m["records"] for m in shuffle_write_metrics(kept))

    small, big = run(500), run(2000)
    assert small > 0
    # linear growth band: 4x input → between 2x and 7x shuffled records
    # (never anywhere near the 16x a pair-shuffling plan would show)
    assert 2 * small <= big <= 7 * small, (small, big)


def test_bloom_prefilter_join_cuts_shuffled_probe_records(spark, tmp_path):
    """The Bloom prefilter must pay off in shuffle METRICS, not just in
    principle: against a selective build side (1% of keys), the
    prefiltered probe moves ~99% fewer records through the main join's
    exchange than the raw probe — and the operator returns the
    identical result (no false negatives; false positives die in the
    exact join). The merge hint sits ABOVE the prefilter, so it forces
    only the main join to shuffle (the regime the operator exists
    for); the sketch and candidate broadcasts inside stay broadcasts.
    """
    from streaming_data_pipeline_azure_spark.functions.bloom import (
        bloom_build,
        bloom_filter_maybe_inline,
    )
    from streaming_data_pipeline_azure_spark.operators.skew import (
        bloom_prefilter_join,
    )
    from streaming_data_pipeline_azure_spark.plans.inspect import (
        shuffle_write_metrics,
    )

    M, K = 1 << 18, 5
    # materialize the probe side: a test-side repartition() would
    # itself appear in the shuffle metrics and drown the comparison
    spark.range(0, 100_000).select(
        (F.col("id") % 10_000).alias("k"),
        F.concat(F.lit("p"), F.col("id")).alias("pad"),
    ).repartition(8).write.parquet(str(tmp_path / "bloom_big"))
    big = spark.read.parquet(str(tmp_path / "bloom_big"))
    small = spark.range(0, 100).select(
        (F.col("id") * 100).alias("k"),  # 1% of the key domain
        F.col("id").alias("sv"),
    )

    # result parity of the packaged operator
    plain_rows = sorted(tuple(r) for r in big.join(small, "k").collect())
    got = bloom_prefilter_join(big, small, "k", m_bits=M, k_hashes=K)
    assert sorted(tuple(r) for r in got.select("k", "pad", "sv").collect()) \
        == plain_rows
    assert len(plain_rows) == 1_000

    # shuffle-volume mechanism: hint only the MAIN join to merge
    bits = bloom_build(small.select("k"), "k", m_bits=M, k_hashes=K)
    pre = bloom_filter_maybe_inline(big, "k", bits, m_bits=M, k_hashes=K)
    plain_rec = sum(m["records"] for m in shuffle_write_metrics(
        big.hint("merge").join(small, "k")))
    pre_rec = sum(m["records"] for m in shuffle_write_metrics(
        pre.hint("merge").join(small, "k")))
    assert pre_rec < plain_rec / 5, (pre_rec, plain_rec)


def test_bloom_prefilter_join_rejects_outer_semantics(spark):
    """how='left' would silently drop unmatched probe rows (the
    prefilter removes them before an outer join could keep them) —
    contract error, not silent corruption."""
    import pytest as _pytest

    from streaming_data_pipeline_azure_spark.operators.skew import (
        bloom_prefilter_join,
    )

    a = spark.createDataFrame([(1, "x")], "k long, v string")
    b = spark.createDataFrame([(1, 2)], "k long, w long")
    with _pytest.raises(ValueError):
        bloom_prefilter_join(a, b, "k", how="left")
    # semi works and keeps probe columns only
    assert bloom_prefilter_join(a, b, "k", how="left_semi").columns == [
        "k", "v",
    ]


def test_pareto_prefilter_shuffles_candidates_not_input(spark):
    """pareto_frontier's batch-local prefilter is the scale claim: the
    exchanges after mapInPandas must carry the (tiny) local frontiers,
    never the input. 60k clustered points whose frontier is ~a dozen
    rows must shuffle only hundreds of records total."""
    from streaming_data_pipeline_azure_spark.operators import skyline
    from streaming_data_pipeline_azure_spark.plans.inspect import (
        shuffle_write_metrics,
    )

    n = 60_000
    pts = spark.range(n, numPartitions=8).select(
        F.col("id"),
        (F.col("id") % 200).cast("double").alias("x"),
        # y falls as x rises -> frontier is the per-x max band only
        (200 - (F.col("id") % 200) + (F.col("id") % 7)).cast(
            "double"
        ).alias("y"),
    )
    metrics = shuffle_write_metrics(
        skyline.pareto_frontier(pts, "x", "y")
    )
    total_records = sum(m["records"] for m in metrics)
    # candidates = per-partition frontiers (~200 x-values x 8), never
    # the 60k input rows
    assert total_records < 10_000, metrics
    assert total_records > 0, metrics       # the finish stages do shuffle


def test_keep_best_and_golden_record_shuffle_groups_not_rows(spark):
    """Both max_by-based consolidations promise map-side combine:
    shuffle records bounded by groups x map partitions."""
    from streaming_data_pipeline_azure_spark.operators import dedup
    from streaming_data_pipeline_azure_spark.plans.inspect import (
        shuffle_write_metrics,
    )

    rows = spark.range(40_000, numPartitions=8).select(
        (F.col("id") % 20).alias("k"),
        F.col("id").alias("ts"),
        F.concat(F.lit("txt"), (F.col("id") % 20)).alias("text"),
        (F.col("id") % 100).cast("double").alias("score"),
    )
    m1 = shuffle_write_metrics(
        dedup.keep_best_dedup(rows, "ts", "text", score_col="score")
    )
    assert sum(x["records"] for x in m1) <= 20 * 8 + 64, m1
    m2 = shuffle_write_metrics(
        dedup.golden_record(rows, "k", "ts", ["text", "score"])
    )
    assert sum(x["records"] for x in m2) <= 20 * 8 + 64, m2


def test_embedding_covariance_shuffles_cells_not_rows(spark):
    """The HOF-expansion covariance claims its ONLY exchange is the
    map-side-combined (i, j) aggregation: shuffle records must be
    bounded by d(d+1)/2 x partitions and INVARIANT to row count."""
    from streaming_data_pipeline_azure_spark.operators import similarity
    from streaming_data_pipeline_azure_spark.plans.inspect import (
        shuffle_write_metrics,
    )

    d = 8
    cells = d * (d + 1) // 2
    recs = {}
    for n in (500, 2000):
        emb = spark.range(n, numPartitions=4).select(
            F.col("id").alias("vec_id"),
            F.array(
                *[
                    ((F.col("id") * (i + 3)) % 97 / 97.0).cast("double")
                    for i in range(d)
                ]
            ).alias("embedding"),
        )
        m = shuffle_write_metrics(similarity.embedding_covariance(emb))
        recs[n] = sum(x["records"] for x in m)
        # the full-matrix mirror re-aggregates in its own branch, so
        # up to TWO cell-bounded exchanges — never row-proportional
        assert recs[n] <= 2 * cells * 4 + 64, (n, m)
    assert recs[2000] == recs[500], recs  # row-count invariant


def test_band_join_shuffle_is_linear_not_quadratic(spark):
    """band_join's claim: shuffle volume 3x|L| + |R| rows, never
    |L|x|R|. On two 2000-row sides whose bands qualify ~everything
    within a bucket, the brute pair count is ~4M — the measured
    shuffle records must track the linear bound (x2 slack for AQE
    framing), i.e. thousands, not millions."""
    from streaming_data_pipeline_azure_spark.operators.temporal import (
        band_join,
    )
    from streaming_data_pipeline_azure_spark.plans.inspect import (
        shuffle_write_metrics,
    )

    n = 2000
    a = spark.range(n).select(
        F.col("id").alias("key_a"),
        (F.col("id") % 97).cast("double").alias("va"),
    )
    b = spark.range(n).select(
        (F.col("id") + 10_000).alias("key_b"),
        (F.col("id") % 97).cast("double").alias("vb"),
    )
    out = band_join(a, b, left_val="va", right_val="vb", delta=1.0)
    metrics = shuffle_write_metrics(out)
    total_records = sum(m["records"] for m in metrics)
    assert total_records <= 2 * (3 * n + n), metrics
    # sanity: the result itself IS quadratic-ish in the bucket — the
    # operator's point is that only the OUTPUT is, not the shuffle
    assert out.count() > 10 * n


def test_precedence_pairs_shuffles_condensed_spans_not_events(spark):
    """precedence_pairs reduces each (key, type) history to interval
    endpoints before any join — so with 200 keys x 4 types over 40k
    events, no exchange may carry more than ~|keys|x|types| records
    per side (map-side combine collapses the event volume)."""
    from streaming_data_pipeline_azure_spark.operators.temporal import (
        precedence_pairs,
    )
    from streaming_data_pipeline_azure_spark.plans.inspect import (
        shuffle_write_metrics,
    )

    n = 40_000
    ev = spark.range(n).select(
        (F.col("id") % 200).alias("k"),
        F.concat(F.lit("t"), (F.col("id") % 4)).alias("ty"),
        F.col("id").alias("ts"),
    )
    metrics = shuffle_write_metrics(precedence_pairs(ev, "k", "ty", "ts"))
    condensed = 200 * 4
    for m in metrics:
        assert m["records"] <= 4 * condensed, metrics



def test_ks_statistic_shuffles_value_points_not_rows(spark):
    """ks_statistic's claim: the shuffle carries DISTINCT-VALUE points,
    not raw rows — with 40k rows over 50 distinct values, no exchange
    past the first partial aggregation may carry more than ~|points|
    records (the partial agg collapses row volume map-side)."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        ks_statistic,
    )
    from streaming_data_pipeline_azure_spark.plans.inspect import (
        shuffle_write_metrics,
    )

    n = 40_000
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
        (F.col("id") % 50).cast("double").alias("v"),
    )
    metrics = shuffle_write_metrics(ks_statistic(df, "g", "v", "a", "b"))
    # every exchange is at point grain (or the final 1-row aggs):
    # 50 points x 32 map partitions is the partial-agg upper bound
    for m in metrics:
        assert m["records"] <= 50 * 32, metrics


def test_conversion_pairs_plans_equi_join_not_nested_loop(spark):
    """conversion_pairs' claim: the time band is a post-join filter on
    a key EQUI-join — the plan must contain a hash/sort-merge join on
    the key and no BroadcastNestedLoopJoin/CartesianProduct (the
    range-join shapes that are O(L x R) per key)."""
    import datetime as dt

    from streaming_data_pipeline_azure_spark.operators.temporal import (
        conversion_pairs,
    )

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, i % 50, base + dt.timedelta(minutes=i)) for i in range(500)],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [(i % 50, base + dt.timedelta(minutes=i + 3), float(i)) for i in range(500)],
        ["user_id", "ts", "value"],
    )
    plan = physical_plan(
        conversion_pairs(left, right, "user_id", "ts", "ts", max_gap_minutes=60)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_kn_topk_avoids_global_sort(spark, sf_dir):
    """The KN model's top-k must plan as TakeOrderedAndProject
    (per-partition heaps over the vocabulary-grain model), never a
    full Sort + single-partition Exchange of the bigram table."""
    from streaming_data_pipeline_azure_spark.operators import text as _tx

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = _tx.kneser_ney_bigrams(docs, min_context=5, k=20)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_anova_is_windowless_single_pass(spark, sf_dir):
    """anova_oneway must plan with ZERO Window nodes (the whole
    statistic folds from one map-side-combined aggregation) — the
    property that lets it run at any scale where kruskal's rank
    window needs the value-grain bound."""
    from streaming_data_pipeline_azure_spark.operators import (
        experiment as _ex,
    )
    from pyspark.sql import functions as _F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    feats = orders.select(
        "o_orderpriority",
        _F.floor(_F.col("o_totalprice") / 1000.0).cast("long").alias("pb"),
    )
    df = _ex.anova_oneway(feats, "o_orderpriority", "pb")
    plan = physical_plan(df)
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_preference_pairs_windows_stay_bucket_partitioned(spark, sf_dir):
    """Both rank windows must be PARTITIONED BY bucket — no
    'No Partition Defined' single-task window over the corpus."""
    from streaming_data_pipeline_azure_spark.operators import (
        sampling as _sam,
    )
    from pyspark.sql import functions as _F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        "lang", "doc_id", _F.length("text").alias("s")
    )
    df = _sam.preference_pairs(scored, "lang", "doc_id", "s")
    plan = physical_plan(df)
    assert "Window" in plan, plan
    assert re.search(r"Window .*partitionBy", plan.replace("\n", " ")) or \
        "hashpartitioning(bucket" in plan, plan


def test_novelty_probe_prunes_owner_buckets(spark, tmp_path):
    """NoveltyGramIndex probe: a micro-batch touching few hash buckets
    must read ONLY those buckets' partitions (PartitionFilters on __b
    in the owners scan) — the SCALING §12 owners-scan lever."""
    from streaming_data_pipeline_azure_spark.operators.corpus import (
        NoveltyGramIndex,
    )

    docs = spark.createDataFrame(
        [(i, f"corpus document number {i} about topic {i % 7} plus "
             f"filler words {i}") for i in range(60)],
        "doc_id long, text string",
    )
    idx = NoveltyGramIndex(str(tmp_path / "novidx"), n=3, n_buckets=64)
    idx.build(docs, "doc_id", "text")

    pruned = idx._pruned_owners(spark, [3, 17])
    plan = physical_plan(pruned)
    # the bucket predicate must reach the scan as a PARTITION filter
    # (directory-level pruning), not a post-scan Filter node
    assert re.search(r"PartitionFilters: \[.*__b", plan), plan
    # and the pruned read is a strict subset of the ownership rows
    # (inputFiles() reports the unpruned listing, so row counts are
    # the observable)
    assert 0 < pruned.count() < idx.stats(spark)["n_grams"]


def test_gram_index_scrub_prunes_buckets(spark, tmp_path):
    """GramCorpusIndex: the membership scan of a small delta probe
    must carry a PartitionFilter on the hash bucket (directory-level
    pruning — the NoveltyGramIndex lever, shared by the family)."""
    from streaming_data_pipeline_azure_spark.operators.corpus import (
        GramCorpusIndex,
    )

    docs = spark.createDataFrame(
        [(i, f"gram corpus doc {i} topic {i % 5} filler words here "
             f"and more text {i}") for i in range(50)],
        "doc_id long, text string",
    )
    idx = GramCorpusIndex(str(tmp_path / "gidx"), n=5, n_buckets=64)
    idx.build(docs, "doc_id", "text")
    pruned = idx._pruned_grams(spark, [5, 9])
    plan = physical_plan(pruned)
    assert re.search(r"PartitionFilters: \[.*__b", plan), plan
    assert 0 <= pruned.count() < idx.stats(spark)["n_grams"]


def test_unpartitioned_window_detector_catches_planted(spark):
    """The WindowExec audit helper must flag a deliberately-planted
    row-grain GLOBAL window (the 100 TB single-task funnel) and stay
    silent on the partitioned form of the same query."""
    from pyspark.sql import Window

    from streaming_data_pipeline_azure_spark.plans.inspect import (
        unpartitioned_window_count,
    )

    df = spark.range(100).withColumn("g", F.pmod("id", F.lit(4)))
    planted = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    assert unpartitioned_window_count(planted) >= 1
    fine = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert unpartitioned_window_count(fine) == 0

    # r12 (ADVICE r11): the detector must also catch NON-WindowExec
    # window-family nodes — a pandas window UDF plans as
    # WindowInPandasExec, which the exact-class-name match was blind to
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def _pmean(v):
        return float(v.mean())

    planted_pandas = df.withColumn(
        "m", _pmean("id").over(Window.orderBy("id").rowsBetween(-2, 0))
    )
    # Spark 4 plans pandas window UDFs as ArrowWindowPythonExec
    # (WindowInPandasExec in 3.x) — assert we really planted one
    plan_str = planted_pandas._jdf.queryExecution().sparkPlan().toString()
    assert "WindowPython" in plan_str or "WindowInPandas" in plan_str
    assert unpartitioned_window_count(planted_pandas) >= 1
    fine_pandas = df.withColumn(
        "m",
        _pmean("id").over(
            Window.partitionBy("g").orderBy("id").rowsBetween(-2, 0)
        ),
    )
    assert unpartitioned_window_count(fine_pandas) == 0


def test_winnow_pairs_persists_fingerprints(spark):
    """r12 (ADVICE r11): winnow_candidate_pairs feeds the fingerprint
    pipeline (explode + per-doc window + distinct) into BOTH self-join
    sides — without a persist, AQE's runtime stage dedup only
    ReusedExchanges the pre-window doc exchange, re-running the
    window + distinct per branch (measured A/B in the operator
    docstring). The physical plan must therefore read the fingerprint
    table from the tracked cache on every consumer."""
    from streaming_data_pipeline_azure_spark.functions.cache import (
        release_caches,
    )
    from streaming_data_pipeline_azure_spark.operators.dedup import (
        winnow_candidate_pairs,
    )
    from streaming_data_pipeline_azure_spark.plans.inspect import (
        physical_plan,
    )

    df = spark.createDataFrame(
        [(i, f"alpha bravo charlie delta echo shared{i % 3} run") for i in range(12)],
        "doc_id long, text string",
    )
    try:
        plan = physical_plan(winnow_candidate_pairs(df))
        assert plan.count("InMemoryTableScan") >= 2, plan
        # the valved variant adds a third consumer (the bucket-count
        # anti-join side) — it must read the same cached table, not
        # re-derive the fingerprint pipeline
        plan_v = physical_plan(winnow_candidate_pairs(df, max_bucket=5))
        assert plan_v.count("InMemoryTableScan") >= 3, plan_v
    finally:
        release_caches()


def test_unpartitioned_window_audit_all_entries(spark, sf_dir):
    """STANDING audit gate (VERDICT r10 #4, seeded from the r10 manual
    walk of all plans): every ``queries()`` entry whose pre-AQE plan
    contains a WindowExec with an empty partitionSpec must carry the
    ``window: grain-bounded`` docstring tag stating WHY the window's
    input is bounded (calendar/dimension/distinct-value/k-sample
    grain, or an auto-swap bound). A new entry that funnels row-grain
    data through one task fails here instead of surfacing as a
    WindowExec warning spray in the bench log. Plan-only per entry —
    but entries with internal actions (index builds, bounded
    collects) do execute those, so this test costs a few minutes."""
    import __spark_entry__ as entrymod

    offenders = []
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        from streaming_data_pipeline_azure_spark.plans.inspect import (
            unpartitioned_window_count,
        )

        if unpartitioned_window_count(df) and (
            "window: grain-bounded" not in (fn.__doc__ or "")
        ):
            offenders.append(name)
    assert not offenders, (
        "entries with an UNTAGGED unpartitioned WindowExec (tag the "
        "docstring with 'window: grain-bounded — <reason>' after "
        f"verifying the window input is grain-bounded): {offenders}"
    )


def test_sink_write_batch_is_one_map_only_job(spark, tmp_path):
    """An upsert-sink micro-batch is one map-only job: every job the
    write issues has a single stage and no stage writes shuffle bytes.
    Keys repeat inside the batch, so a within-batch dedup on the write
    path (a shuffle-map stage first) would show here."""
    from streaming_data_pipeline_azure_spark.sources.sinks import (
        ParquetUpsertSink,
    )

    batch = spark.range(0, 400, 1, numPartitions=4).select(
        F.concat(F.lit("k"), (F.col("id") % 100).cast("string")).alias("k"),
        F.col("id").alias("v"),
    )
    sc = spark.sparkContext
    group = "test_sink_write_batch_is_one_map_only_job"
    sc.setJobGroup(group, "upsert sink write_batch")
    try:
        ParquetUpsertSink(str(tmp_path / "sink"), key="k").write_batch(batch, 0)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs
    for job in jobs:
        stages = tracker.getJobInfo(job).stageIds
        assert len(stages) == 1, (job, list(stages))
        for sid in stages:
            assert store.lastStageAttempt(sid).shuffleWriteBytes() == 0, sid
