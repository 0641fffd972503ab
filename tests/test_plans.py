"""Plan-quality regression gates: the optimizations SURVEY.md §4
promises must actually appear in the physical plans — predicate
pushdown into the Parquet scan, column pruning, broadcast joins for
dims, sort+limit -> TakeOrderedAndProject, minimal shuffles.

These are the properties that decide 100 TB behavior; a code change
that silently trades a broadcast join for a sort-merge join or drops
a pushed filter fails here long before a benchmark would notice.
"""

from __future__ import annotations

import re

import pytest

from hands_on_trino_iceberg_superset_spark.queries import load_all


@pytest.fixture(scope="module")
def inv():
    return load_all()


def _plans(spark, inv, name, sf_dir):
    df = inv[name].spark(spark, sf_dir)
    qe = df._jdf.queryExecution()
    executed = qe.executedPlan().toString()
    formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    return executed, formatted


def test_q6_pushdown_and_pruning(spark, inv, sf_dir):
    executed, formatted = _plans(spark, inv, "q6_forecast_revenue", sf_dir)
    # the shipdate/discount/quantity conjuncts reach the parquet reader
    assert "GreaterThanOrEqual(l_shipdate" in formatted
    assert "GreaterThanOrEqual(l_discount" in formatted
    assert "LessThan(l_quantity" in formatted
    # column pruning: the scan reads exactly the 4 referenced columns
    schema = re.search(r"ReadSchema: struct<([^>]*)>", formatted).group(1)
    assert sorted(c.split(":")[0] for c in schema.split(",")) == [
        "l_discount", "l_extendedprice", "l_quantity", "l_shipdate",
    ]
    # global agg over a filtered scan needs exactly one exchange
    assert executed.count("Exchange") == 1


def test_star_joins_broadcast_not_sort_merge(spark, inv, sf_dir):
    for name, min_bhj in [
        ("q3_shipping_priority", 2),
        ("q5_region_revenue", 5),
        ("top_customers_by_spend", 2),
    ]:
        executed, _ = _plans(spark, inv, name, sf_dir)
        assert executed.count("BroadcastHashJoin") >= min_bhj, name
        assert "SortMergeJoin" not in executed, name


def test_topk_queries_avoid_global_sort(spark, inv, sf_dir):
    for name in ["q3_shipping_priority", "top_customers_by_spend",
                 "bi_chart_raw_orders"]:
        executed, _ = _plans(spark, inv, name, sf_dir)
        assert "TakeOrderedAndProject" in executed, name


def test_exact_dedup_is_single_shuffle(spark, inv, sf_dir):
    executed, _ = _plans(spark, inv, "dedup_exact", sf_dir)
    assert executed.count("Exchange") == 1


def test_metadata_stats_prune_binary_column(spark, inv, sf_dir):
    _, formatted = _plans(spark, inv, "multimodal_metadata_stats", sf_dir)
    # binary media bytes must not be read for metadata-only stats
    schema = re.search(r"ReadSchema: struct<([^>]*)>", formatted).group(1)
    assert "text" in schema  # payload derives from text at ingest...
    # ...but is only needed for n_bytes; the real guard is that the
    # documents scan doesn't read unrelated wide columns
    assert "source" not in schema


def test_ivf_probe_is_partition_pruned(spark, inv, sf_dir, tmp_path):
    """The persisted-IVF probe must scan only the probed cell
    partitions: a static `cell IN (...)` partition filter on the
    vectors read, with no KMeans fit or corpus collect at probe
    time (index built once, probes are pruned reads)."""
    import pyspark.sql.functions as F

    from hands_on_trino_iceberg_superset_spark.operators import similarity as S
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    index_path = str(tmp_path / "ivf")
    S.build_ivf_index(emb, index_path, n_centroids=8)
    queries = emb.orderBy("vec_id").limit(3)
    probe = S.ivf_probe(queries, index_path, k=5, n_probe=2)

    qe = probe._jdf.queryExecution()
    formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", formatted)
    assert m, formatted
    assert "cell" in m.group(1) and "IN (" in m.group(1), m.group(1)
    # pruning is selective: probed cells < total cells
    probed = {int(x) for x in re.findall(r"\b(\d+)\b", m.group(1))}
    assert 0 < len(probed & set(range(8))) < 8

    # results still rank correctly
    rows = probe.collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert by_q and all(len(v) == 5 for v in by_q.values())
    for v in by_q.values():
        sims = [r.cos_sim for r in sorted(v, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """The runtime skew story (session.py enables
    spark.sql.adaptive.skewJoin): a join with one hot key must come
    out of AQE as SortMergeJoin(skew=true) with the hot partition
    split — the no-manual-salting path that complements
    operators/scale.salted_join. Thresholds are lowered so local
    data sizes trigger the same decision a 100 TB skew would."""
    import pyspark.sql.functions as F

    keys = [
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "100KB")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "100KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(0, 2_000_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(1, 50_000).select(
            F.col("id").alias("k"), F.lit("r").alias("rv")
        )
        j = left.join(right, "k").select("k", "rv")
        assert len(j.collect()) == 5000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_simhash_pairs_have_no_dedup_shuffle(spark, sf_dir):
    """Pair uniqueness in simhash_pairs is a first-agreeing-chunk
    bit-op FILTER, not a dropDuplicates: the plan must contain no
    aggregate/exchange downstream of the chunk self-join beyond the
    join itself."""
    from hands_on_trino_iceberg_superset_spark.operators import dedup as D
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = D.simhash_pairs(docs, max_hamming=3)
    executed = df._jdf.queryExecution().executedPlan().toString()
    # one shuffle pair for the sort-merge/shuffled-hash self-join at
    # most; a dropDuplicates would add a HashAggregate pair on
    # (id_a, id_b) — that is the regression this gate catches
    assert "HashAggregate(keys=[id_a" not in executed.replace("#", "")
    assert "dropDuplicates" not in executed


def test_seeded_frames_are_single_partition(spark):
    """The reference's tiny seeded tables (≤300 rows) must generate
    as ONE task, not one per core (32 near-empty tasks per aggregate
    was the round-2 ref_*/bi_* regression)."""
    from hands_on_trino_iceberg_superset_spark.seed import seed_frames

    frames = seed_frames(spark)
    for name, df in frames.items():
        assert df.rdd.getNumPartitions() == 1, name


def test_ngram_auto_routes_to_blocked_plan(spark, sf_dir):
    """Under the postings cap the auto router must produce the Arrow
    blocked plan (FlatMapGroupsInPandas); the distributed inverted
    path must stay pandas-free."""
    from hands_on_trino_iceberg_superset_spark.operators import dedup as D
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    auto = D.ngram_jaccard_pairs_auto(docs, 0.4, 2)
    executed = auto._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in executed
    inverted = D.ngram_jaccard_pairs_inverted(docs, 0.4, 2)
    inv_plan = inverted._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in inv_plan


def test_mor_read_antijoin_is_broadcast(spark, tmp_path):
    """Merge-on-read scan shape: the positional-delete subtraction
    must execute as a BROADCAST anti-join (delete sets are small by
    construction) — never a sort-merge or nested-loop join that
    would shuffle the full data side at 100 TB."""
    from hands_on_trino_iceberg_superset_spark.lakehouse.iceberg import (
        IcebergTable,
    )

    t = IcebergTable.create(
        spark, str(tmp_path / "mor_plan"),
        spark.range(10_000).selectExpr("id", "id % 10 as g"),
    )
    t.delete("id % 97 = 0", mode="merge-on-read")
    df = t.read()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight" in executed
    assert "BroadcastHashJoin" in executed or \
        "BroadcastExchange" in executed
    assert "SortMergeJoin" not in executed
    assert "BroadcastNestedLoopJoin" not in executed
    assert df.count() == 10_000 - len(
        [i for i in range(10_000) if i % 97 == 0]
    )


def test_incremental_dedup_corpus_side_broadcasts(spark, inv, sf_dir):
    """dedup_incremental's verify join must broadcast the small side
    (candidates / dup-fps), never sort-merge the corpus — and the
    bloom tier's verdict must reach the plan as a pandas-UDF
    projection, not a join."""
    executed, _ = _plans(spark, inv, "dedup_incremental", sf_dir)
    assert "SortMergeJoin" not in executed
    assert "BroadcastHashJoin" in executed


def test_global_shuffle_is_single_exchange_per_branch(spark, inv, sf_dir):
    """training_global_shuffle: the shard repartition is THE shuffle;
    the per-shard aggregate reuses it (no second exchange of the
    corpus on the same branch)."""
    executed, _ = _plans(
        spark, inv, "training_global_shuffle", sf_dir
    )
    n_exchanges = executed.count("Exchange ")
    # one hash repartition on shard + the final orderBy's range
    # exchange over 8 aggregate rows
    assert n_exchanges <= 3, executed


def test_unigram_commonness_frequency_table_broadcasts(spark, inv, sf_dir):
    """text_unigram_commonness joins every token instance to the
    corpus frequency table: vocab-sized side broadcasts, the token
    stream never sort-merges."""
    executed, _ = _plans(
        spark, inv, "text_unigram_commonness", sf_dir
    )
    assert "SortMergeJoin" not in executed
    assert "BroadcastHashJoin" in executed


def test_bpe_encode_is_shuffle_free(spark, sf_dir):
    """The tokenizer's apply half (both token and id output) is ONE
    Arrow map over the corpus — no Exchange anywhere in the plan;
    100 TB tokenization scales with executors, not shuffle."""
    from hands_on_trino_iceberg_superset_spark.operators.bpe import (
        bpe_base_alphabet,
        bpe_encode,
        bpe_encode_ids,
        bpe_train,
        bpe_vocab,
    )
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=8)
    plan = bpe_encode(docs, merges)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan
    vocab = bpe_vocab(merges, bpe_base_alphabet(docs))
    plan = bpe_encode_ids(docs, merges, vocab)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_quantizer_assign_is_shuffle_free(spark, inv, sf_dir):
    """The k-means E-step broadcasts centroids in the task closure:
    assignment adds zero Exchanges, and dedup_semantic_quantized's
    only shuffle is the per-cell grouping semantic_dedup needs."""
    from hands_on_trino_iceberg_superset_spark.operators.similarity import (
        quantizer_assign,
    )
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    cents = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("cell"),
                F.col("embedding").alias("centroid"))
    )
    plan = quantizer_assign(emb, cents)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan
    executed, _ = _plans(spark, inv, "dedup_semantic_quantized", sf_dir)
    assert executed.count("Exchange ") <= 1, executed


def test_split_leakproof_single_shuffle_pruned_scan(spark, inv, sf_dir):
    executed, formatted = _plans(
        spark, inv, "training_split_leakproof", sf_dir
    )
    # only the group-size window shuffles (keyed by fingerprint);
    # split assignment itself is map-only
    assert executed.count("Exchange") == 1
    schema = re.search(r"ReadSchema: struct<([^>]*)>", formatted).group(1)
    assert sorted(c.split(":")[0] for c in schema.split(",")) == [
        "doc_id", "source", "text",
    ]


def test_drift_report_topk_avoids_global_sort(spark, inv, sf_dir):
    executed, _ = _plans(spark, inv, "corpus_drift_report", sf_dir)
    # the top-K vocabulary cut lowers to TakeOrderedAndProject on the
    # aggregated histogram — no full Sort over token rows
    assert "TakeOrderedAndProject" in executed
    # top-K vocab and the constants row reach the grid as broadcasts
    assert executed.count("BroadcastNestedLoopJoin") >= 1
    assert "SortMergeJoin" not in executed


def test_perplexity_model_joins_broadcast_at_test_scale(spark, inv, sf_dir):
    executed, _ = _plans(spark, inv, "text_perplexity_buckets", sf_dir)
    # tertile thresholds come from the histogram, not a global sort
    # of per-document scores
    assert "TakeOrderedAndProject" not in executed
    # Since the r15 optimization round the per-document scoring frame
    # is stored once (localCheckpoint), so the model joins live in
    # the checkpoint's plan — gate them on the SAME code path via the
    # factored scoring subtree: the vocab-bounded model tables must
    # broadcast at this corpus size WITHOUT a forced hint on cb/cu
    # (Catalyst must pick it from parquet-derived stats; a stats-
    # erasing checkpoint below the model joins would regress this).
    from hands_on_trino_iceberg_superset_spark.queries.text import (
        _perplexity_scored,
        _perplexity_tokens,
    )

    scoring = (
        _perplexity_scored(_perplexity_tokens(spark, sf_dir))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert scoring.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in scoring


def test_filtered_ivf_probe_prunes_and_pushes_filter(
    spark, inv, sf_dir, tmp_path
):
    """Filtered IVF search must COMPOSE the two scan reductions: the
    probed-cell partition filter AND the label equality pushed into
    the same pruned parquet read (filter-first, not post-hoc)."""
    import pyspark.sql.functions as F

    from hands_on_trino_iceberg_superset_spark.operators import similarity as S
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    index_path = str(tmp_path / "ivf")
    S.build_ivf_index(emb, index_path, n_centroids=8, meta_cols=["label"])
    queries = emb.orderBy("vec_id").limit(3)
    probe = S.ivf_probe(queries, index_path, k=5, n_probe=2,
                        match_cols=["label"])
    qe = probe._jdf.queryExecution()
    formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", formatted)
    assert m, formatted
    assert "cell" in m.group(1) and "IN (" in m.group(1), m.group(1)
    probed = {int(x) for x in re.findall(r"\b(\d+)\b", m.group(1))}
    assert 0 < len(probed & set(range(8))) < 8
    # the queries' label values reach the celled scan as a pushed
    # data filter alongside the partition pruning
    assert re.search(r"PushedFilters: \[[^\]]*In\(label", formatted), formatted


def test_hard_negative_ivf_probe_prunes_despite_inequality(
    spark, sf_dir, tmp_path
):
    """The hard-negative route must keep the probed-cell partition
    pruning with the label INEQUALITY applied in the probe join —
    a per-query != can't be a static pushdown, but it must not cost
    the pruned scan either."""
    import pyspark.sql.functions as F  # noqa: F401

    from hands_on_trino_iceberg_superset_spark.operators import similarity as S
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    index_path = str(tmp_path / "ivf")
    S.build_ivf_index(emb, index_path, n_centroids=8, meta_cols=["label"])
    queries = emb.orderBy("vec_id").limit(3)
    probe = S.ivf_probe(queries, index_path, k=5, n_probe=2,
                        exclude_cols=["label"])
    qe = probe._jdf.queryExecution()
    formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", formatted)
    assert m, formatted
    assert "cell" in m.group(1) and "IN (" in m.group(1), m.group(1)
    probed = {int(x) for x in re.findall(r"\b(\d+)\b", m.group(1))}
    assert 0 < len(probed & set(range(8))) < 8
    # the inequality rides the broadcast probe join, never a
    # sort-merge or a corpus-wide nested loop
    executed = str(qe.executedPlan())
    assert "SortMergeJoin" not in executed
    # and the emitted rows really exclude the query's own label
    rows = probe.collect()
    assert rows, "probe returned nothing"
    qlab = {r.vec_id: r.label for r in queries.collect()}
    assert all(r.neg_label != qlab[r.query_id] for r in rows)


def test_dedup_lines_two_data_shuffles_pruned_scan(spark, inv, sf_dir):
    executed, formatted = _plans(spark, inv, "dedup_lines", sf_dir)
    # line-hash window + doc reassembly (+ the doc_id join); no
    # extra shuffle sneaks in, and across BOTH scans (line side and
    # the all-docs join side) only (doc_id, text) is ever read
    assert executed.count("Exchange") <= 4, executed
    cols = set()
    for schema in re.findall(r"ReadSchema: struct<([^>]*)>", formatted):
        cols |= {c.split(":")[0] for c in schema.split(",") if c}
    assert cols == {"doc_id", "text"}, cols


def test_zipf_fit_windows_run_on_histogram_only(spark, inv, sf_dir):
    executed, _ = _plans(spark, inv, "text_zipf_fit", sf_dir)
    # the ranking window keys on the (lang, token) histogram, never
    # the exploded token stream: exactly one aggregate feeds it
    assert "SortMergeJoin" not in executed
    assert executed.count("BroadcastHashJoin") >= 1


def test_mixture_weights_single_corpus_shuffle(spark, inv, sf_dir):
    executed, formatted = _plans(
        spark, inv, "training_mixture_weights", sf_dir
    )
    # one map-side-combined token-count shuffle; the windows run on
    # the per-source aggregate (single-partition exchange of ~20 rows)
    assert "partial_sum" in executed or "partial" in executed.lower()
    schema = re.search(r"ReadSchema: struct<([^>]*)>", formatted).group(1)
    assert sorted(c.split(":")[0] for c in schema.split(",")) == [
        "source", "text",
    ]


def test_bucketed_inventory_join_is_exchange_free(spark, inv, sf_dir):
    """join_bucketed_colocated's JOIN must ride the bucket layout:
    sort-merge with ZERO exchanges beneath it (the only exchanges in
    the plan belong to the final aggregate/sort)."""
    df = inv["join_bucketed_colocated"].spark(spark, sf_dir)
    executed = str(df._jdf.queryExecution().executedPlan())
    assert executed.count("SortMergeJoin") == 1
    below_join = executed.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_join, below_join


def test_salted_inventory_join_spreads_hot_key(spark, inv, sf_dir):
    """join_skew_salted must actually salt: the join key carries the
    _salt derivation (xxhash64 content salt) and the build side is
    replicated across salts (explode of the salt sequence)."""
    df = inv["join_skew_salted"].spark(spark, sf_dir)
    executed = str(df._jdf.queryExecution().executedPlan())
    assert "xxhash64" in executed
    assert "explode" in executed.lower()


def test_range_search_has_zero_shuffles(spark, sf_dir, tmp_path):
    """Cosine range search is broadcast + map: no per-query window,
    so the plan must contain NO shuffle exchange at all — the
    property that makes it a pure corpus map at 100 TB. The corpus
    is written as a multi-file parquet first so the test-scale
    widen (a RoundRobin repartition the operator skips whenever the
    scan is already parallel, i.e. always at real scale) is a no-op
    and the gate sees the steady-state plan."""
    import pyspark.sql.functions as F

    from hands_on_trino_iceberg_superset_spark.operators import (
        similarity as S,
    )
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    emb.repartition(8).write.mode("overwrite").parquet(
        str(tmp_path / "emb8"))
    wide = spark.read.parquet(str(tmp_path / "emb8"))
    assert wide.rdd.getNumPartitions() >= 8  # widen will no-op
    df = S.cosine_range_search(
        wide, wide.where(F.col("vec_id") % 100 == 0), threshold=0.28)
    executed = df._jdf.queryExecution().executedPlan().toString()
    # every line naming an Exchange must be a BroadcastExchange —
    # hash/range/single-partition AND round-robin shuffles all fail
    bad = [ln for ln in executed.splitlines()
           if "Exchange" in ln and "BroadcastExchange" not in ln]
    assert not bad, "\n".join(bad)


def test_sq8_candidates_bound_float_reads(spark, sf_dir):
    """SQ8 recall on the driver corpus: the int8 candidate scan must
    hand the exact re-rank enough to recover >= 8/10 of the true
    top-10 for every anchor (the gate the inventory query enforces
    per query)."""
    import pyspark.sql.functions as F

    from hands_on_trino_iceberg_superset_spark.operators import (
        similarity as S,
    )
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 100 == 0)
    sq8 = S.sq8_topk(emb, q, k=10, n_candidates=30)
    exact = S.cosine_topk(emb, q, k=10)
    overlap = (
        sq8.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"),
              ["query_id", "neighbor_id"])
        .groupBy("query_id").count()
    )
    counts = {r.query_id: r["count"] for r in overlap.collect()}
    n_anchor = q.count()
    assert len(counts) == n_anchor
    assert min(counts.values()) >= 8


def test_quality_classifier_is_pure_map(spark, inv, sf_dir):
    """The frozen-weight classifier is a scan projection: zero
    exchanges (no shuffle anywhere — at 100 TB it's a pure map), and
    the documents scan reads only the referenced columns (never
    `lang`)."""
    executed, formatted = _plans(
        spark, inv, "text_quality_classifier", sf_dir
    )
    assert executed.count("Exchange") == 0
    schema = re.search(r"ReadSchema: struct<([^>]*)>", formatted).group(1)
    cols = sorted(c.split(":")[0] for c in schema.split(","))
    assert cols == ["doc_id", "n_chars", "source", "text"]


def test_url_dedup_shuffles_only_on_dedup_keys(spark, inv, sf_dir):
    """URL canonicalization happens in the scan projection; the only
    exchanges are the two aggregation shuffles (canonical key, then
    source). The text column must never be read — addresses derive
    from doc_id/source only."""
    executed, formatted = _plans(
        spark, inv, "dedup_url_canonical", sf_dir
    )
    assert executed.count("Exchange") <= 2
    schema = re.search(r"ReadSchema: struct<([^>]*)>", formatted).group(1)
    cols = sorted(c.split(":")[0] for c in schema.split(","))
    assert cols == ["doc_id", "source"]


def test_mmr_pool_search_broadcasts_queries(spark, inv, sf_dir):
    """MMR's candidate pool comes from the broadcast-query exact
    top-k (never a corpus-vs-corpus sort-merge join), and the greedy
    stage shuffles only the candidate list (one exchange for the
    per-query Arrow groups plus the window's)."""
    executed, _ = _plans(spark, inv, "ann_mmr_diverse_topk", sf_dir)
    assert executed.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in executed
    assert "ArrowEvalPython" in executed or "FlatMapGroupsInPandas" in executed


def test_range_banded_join_is_hash_not_nested_loop(spark, inv, sf_dir):
    """The bucketized range join must plan a hash join; the naive
    theta formulation of the same predicate plans a nested-loop —
    the rewrite is the difference between O(facts) and
    O(facts x ranges) at 100 TB."""
    import pyspark.sql.functions as F

    from hands_on_trino_iceberg_superset_spark.sources import load_table

    executed, _ = _plans(spark, inv, "join_range_banded", sf_dir)
    assert "BroadcastHashJoin" in executed
    assert "BroadcastNestedLoopJoin" not in executed

    li = load_table(spark, sf_dir, "lineitem").select("l_quantity")
    tiers = spark.createDataFrame(
        [("light", 1, 10), ("bulk", 35, 51)], "tier string, lo int, hi int"
    )
    naive = li.join(
        tiers,
        (F.col("l_quantity") >= F.col("lo"))
        & (F.col("l_quantity") < F.col("hi")),
    )
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in naive_plan


def test_transition_matrix_shuffles_once_on_users(spark, inv, sf_dir):
    """The sequence window is the only event-sized shuffle; the
    normalizing window runs on the bounded types-grid after the
    transition aggregate."""
    executed, formatted = _plans(
        spark, inv, "events_transition_matrix", sf_dir
    )
    # user window + transition groupBy + grid window ordering
    assert executed.count("Exchange") <= 3
    schema = re.search(r"ReadSchema: struct<([^>]*)>", formatted).group(1)
    cols = sorted(c.split(":")[0] for c in schema.split(","))
    assert cols == ["event_id", "event_type", "ts", "user_id"]


def test_matryoshka_scans_prune_to_the_embedding(spark, inv, sf_dir):
    """Truncated-prefix searches read only (vec_id, embedding) —
    the label column never loads — and every join is broadcast."""
    executed, formatted = _plans(
        spark, inv, "embedding_matryoshka_recall", sf_dir
    )
    assert "SortMergeJoin" not in executed
    for schema in re.findall(r"ReadSchema: struct<([^>]*)>", formatted):
        assert "label" not in schema


def test_gapfill_windows_run_on_the_day_grain(spark, inv, sf_dir):
    """The carry-forward window's input is the spine join, never raw
    events: the plan aggregates events to days before any window."""
    executed, formatted = _plans(spark, inv, "events_daily_gapfill",
                                 sf_dir)
    # plan text prints root-first: the Window (downstream, day-grain)
    # must sit ABOVE the event aggregation in the tree
    assert executed.index("Window") < executed.index("HashAggregate")
    # the sparse-slice predicates reach the parquet reader
    assert "EqualTo(event_type,purchase)" in formatted
    assert "GreaterThanOrEqual(value," in formatted


def test_engagement_wau_never_nested_loops(spark, inv, sf_dir):
    """The trailing-window WAU/MAU must stay an explode + equi join
    at EVERY window length — a theta-join regression would
    nested-loop O(user_days x days) at scale."""
    for q in ("events_engagement_ratios", "events_engagement_mau"):
        executed, _ = _plans(spark, inv, q, sf_dir)
        assert "BroadcastNestedLoopJoin" not in executed, q
        assert "CartesianProduct" not in executed, q
        assert "Generate explode" in executed \
            or "Generate" in executed, q


def test_pivot_compiles_to_one_aggregate_pass(spark, inv, sf_dir):
    """The pivot chart must be ONE conditional aggregation (partial +
    final around a single exchange) — never a per-value scan, a
    PIVOT/Expand operator, or a join of per-value subqueries."""
    executed, _ = _plans(spark, inv, "bi_chart_pivot_table", sf_dir)
    assert "Join" not in executed
    assert "Expand" not in executed
    # seed frame is driver-local; the agg itself is the only shuffle
    body = executed.split("AdaptiveSparkPlan")[-1]
    assert body.count("Exchange") <= 2  # agg + final orderBy


def test_knn_vote_broadcasts_and_never_cartesian(spark, inv, sf_dir):
    """k-NN label vote: the query side broadcasts into the corpus
    scan (theta self-join via BroadcastNestedLoop over the SMALL
    broadcast side is the documented exact-scan shape); the corpus
    is never shuffled pre-join and nothing plans a CartesianProduct."""
    executed, _ = _plans(spark, inv, "embedding_knn_label_vote",
                         sf_dir)
    assert "CartesianProduct" not in executed
    assert "BroadcastExchange" in executed


def test_rfm_single_event_sized_shuffle(spark, inv, sf_dir):
    """RFM: the purchase aggregate to the user grain is the only
    event-sized exchange; the anchor joins as a broadcast 1-row
    aggregate and the ntile windows run over user-grain rows."""
    executed, formatted = _plans(spark, inv, "events_rfm_segments",
                                 sf_dir)
    assert "BroadcastNestedLoopJoin" in executed \
        or "BroadcastHashJoin" in executed  # the 1-row anchor join
    # the purchase filter reaches the parquet reader
    assert "EqualTo(event_type,purchase)" in formatted


def test_ivf_delete_probe_prunes_and_antijoins(spark, sf_dir):
    """The tombstone-aware probe plan: the celled store scan carries
    the cell partition filter AND the tombstone anti-join is a
    broadcast (delete-volume-sized), upstream of the scoring join."""
    import pyspark.sql.functions as F

    from hands_on_trino_iceberg_superset_spark.operators import (
        similarity as S,
    )
    from hands_on_trino_iceberg_superset_spark.queries.similarity import (
        _ivf_mor_index,
    )
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    live = emb.where(F.col("vec_id") % 7 != 0)
    probe = S.ivf_probe(live.orderBy("vec_id").limit(5),
                        _ivf_mor_index(spark, sf_dir),
                        k=10, n_probe=4)
    qe = probe._jdf.queryExecution()
    executed = qe.executedPlan().toString()
    formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    assert "LeftAnti, BuildRight" in executed  # broadcast tombstones
    # partition pruning on the celled store: the cell filter is a
    # partition-level predicate, not a data-page filter
    assert re.search(r"PartitionFilters: \[[^\]]*cell", formatted)


def test_substring_rewrite_never_pairwise(spark, inv, sf_dir):
    """dedup_substring's plan must be windows + equi-joins only: a
    nested-loop or cartesian anywhere means the 'never suffix arrays,
    never pairwise' claim broke."""
    executed, _ = _plans(spark, inv, "dedup_substring", sf_dir)
    assert "BroadcastNestedLoopJoin" not in executed
    assert "CartesianProduct" not in executed


def test_perceptual_dedup_banded_never_allpairs(spark, inv, sf_dir):
    """multimodal_perceptual_dedup mines pairs through the pigeonhole
    band equi-join — a plan with a nested-loop join would be the
    quadratic all-pairs scan the operator exists to avoid."""
    executed, _ = _plans(spark, inv, "multimodal_perceptual_dedup",
                         sf_dir)
    assert "BroadcastNestedLoopJoin" not in executed
    assert "CartesianProduct" not in executed
    assert "SortMergeJoin" in executed or \
        "BroadcastHashJoin" in executed or "ShuffledHashJoin" in executed


def test_bm25_broadcasts_queries_never_cartesian(spark, inv, sf_dir):
    """search_bm25_topk's scoring join must reach documents through
    the (broadcast) query-term postings probe — a cartesian anywhere
    means the inverted-index access path broke. (The 1-row corpus
    stats cross-join is broadcast by construction.)"""
    executed, _ = _plans(spark, inv, "search_bm25_topk", sf_dir)
    assert "CartesianProduct" not in executed
    assert executed.count("BroadcastHashJoin") >= 1


def test_sql_ann_table_function_keeps_ivf_pruning(
    spark, sf_dir, tmp_path
):
    """The SQL surface must not cost the index its plan: a statement
    composing TABLE(ann_topk(index => ...)) through Engine.sql plans
    the SAME partition-pruned cell scan as the direct ivf_probe call
    — the probed-cell IN predicate reaches the parquet read as a
    PartitionFilter (a strict subset of cells), never a full store
    scan or a cartesian."""
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.operators import similarity as S
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    index_path = str(tmp_path / "ivf_sql")
    S.build_ivf_index(emb, index_path, n_centroids=8)
    emb.orderBy("vec_id").limit(3).createOrReplaceTempView(
        "plan_ann_queries_v"
    )
    eng = Engine(spark)
    eng.register_ann_index("plan_ivf", index_path)
    # composed statement: aggregation OVER the table function
    df = eng.sql(
        "SELECT query_id, count(*) AS n, max(cos_sim) AS best "
        "FROM TABLE(ann_topk(index => 'plan_ivf', "
        "queries => 'plan_ann_queries_v', k => 5, n_probe => 2)) "
        "GROUP BY query_id"
    )
    qe = df._jdf.queryExecution()
    formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", formatted)
    assert m, formatted
    assert "cell" in m.group(1) and "IN (" in m.group(1), m.group(1)
    probed = {int(x) for x in re.findall(r"\b(\d+)\b", m.group(1))}
    assert 0 < len(probed & set(range(8))) < 8
    assert "CartesianProduct" not in formatted


def test_bi_ann_chart_plan_shape(spark, sf_dir):
    """The ANN chart's composed plan keeps the operator contracts:
    the exact arm is a broadcast(queries) nested-loop BY DESIGN
    (non-equi query_id != neighbor_id, bounded by the broadcast query
    side), the neighbor-label join broadcasts the small top-k side,
    and nothing degenerates into a sort-merge join or a cartesian of
    the corpus."""
    from hands_on_trino_iceberg_superset_spark.queries.bi import (
        bi_chart_ann_topk,
    )

    df = bi_chart_ann_topk(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the label equi-join


def test_sql_bm25_table_function_plan_shape(spark, sf_dir):
    """The SQL surface must not cost BM25 its access path: a
    statement composing TABLE(bm25_topk(...)) through Engine.sql
    plans the same broadcast query-term postings probe as the direct
    operator call — never a cartesian (the 1-row corpus-stats
    cross-join is broadcast by construction)."""
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "plan_bm25_docs_v"
    )
    spark.createDataFrame(
        [("q1", "spark join window")], "qid string, qtext string"
    ).createOrReplaceTempView("plan_bm25_queries_v")
    df = Engine(spark).sql(
        "SELECT qid, count(*) AS n, max(score) AS best "
        "FROM TABLE(bm25_topk(docs => 'plan_bm25_docs_v', "
        "queries => 'plan_bm25_queries_v', k => 5)) GROUP BY qid"
    )
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in executed
    assert executed.count("BroadcastHashJoin") >= 1


def test_sql_hybrid_table_function_plan_shape(spark, sf_dir):
    """TABLE(hybrid_topk(...)) composes both rankers without a
    cartesian: the lexical side keeps the postings broadcast, the
    exact vector side is the bounded broadcast(queries) nested loop
    BY DESIGN, and the rank fusion is an equi full-outer join of two
    k-bounded sets."""
    import pyspark.sql.functions as F

    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    docs.createOrReplaceTempView("plan_hyb_docs_v")
    emb.createOrReplaceTempView("plan_hyb_corpus_v")
    (
        docs.where(F.col("doc_id") % 100 == 0)
        .join(emb, docs.doc_id == emb.vec_id)
        .select(
            F.col("doc_id").alias("qid"),
            F.substring("text", 1, 20).alias("qtext"),
            F.col("embedding").alias("qvec"),
        )
    ).createOrReplaceTempView("plan_hyb_queries_v")
    df = Engine(spark).sql(
        "SELECT qid, rank, doc_id, rrf "
        "FROM TABLE(hybrid_topk(docs => 'plan_hyb_docs_v', "
        "corpus => 'plan_hyb_corpus_v', "
        "queries => 'plan_hyb_queries_v', k => 5))"
    )
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in executed
    assert executed.count("BroadcastHashJoin") >= 1


def test_sql_dedup_table_functions_plan_shape(spark, sf_dir):
    """The SQL surface keeps the dedup operators' shapes: the
    simhash path stays the pigeonhole band EQUI-join (a nested-loop
    or cartesian would be the quadratic all-pairs scan the operator
    exists to avoid), and dedup_exact composes into one fingerprint
    aggregate plus the survivor join."""
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "plan_dedup_docs_v"
    )
    eng = Engine(spark)
    sim = eng.sql(
        "SELECT count(*) AS n_pairs, max(hamming) AS worst "
        "FROM TABLE(simhash_pairs(docs => 'plan_dedup_docs_v', "
        "max_hamming => 3))"
    )
    executed = sim._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in executed
    assert "CartesianProduct" not in executed
    assert ("SortMergeJoin" in executed
            or "BroadcastHashJoin" in executed
            or "ShuffledHashJoin" in executed)
    ex = eng.sql(
        "SELECT d.source, count(*) AS n FROM "
        "TABLE(dedup_exact(docs => 'plan_dedup_docs_v')) g "
        "JOIN plan_dedup_docs_v d ON g.keep_id = d.doc_id "
        "GROUP BY d.source"
    )
    executed = ex._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in executed
    assert "HashAggregate" in executed


def test_sql_dedup_workhorse_table_functions_plan_shape(spark, sf_dir):
    """The r13 workhorse tier through the SQL seam keeps its linear
    shapes: minhash_pairs plans the (band, bucket) EQUI-join — never
    the quadratic all-pairs theta scan the banding exists to avoid —
    and containment_pairs keeps the capped inverted-index postings
    equi-join. Both must also show the pair-dedup aggregate (the
    candidate join is followed by a groupBy, not an exploded
    passthrough)."""
    import pyspark.sql.functions as F

    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 0
    ).createOrReplaceTempView("plan_minhash_docs_v")
    eng = Engine(spark)
    mh = eng.sql(
        "SELECT id_a, id_b, jaccard_sim "
        "FROM TABLE(minhash_pairs(docs => 'plan_minhash_docs_v', "
        "threshold => 0.4))"
    )
    executed = mh._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in executed
    assert "CartesianProduct" not in executed
    assert ("SortMergeJoin" in executed
            or "BroadcastHashJoin" in executed
            or "ShuffledHashJoin" in executed)
    assert "HashAggregate" in executed

    ct = eng.sql(
        "SELECT id_a, id_b, containment "
        "FROM TABLE(containment_pairs(docs => 'plan_minhash_docs_v', "
        "threshold => 0.9, n => 8, max_df => 10))"
    )
    executed = ct._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in executed
    assert "CartesianProduct" not in executed
    # r14 optimization round: containment_pairs routes through
    # containment_pairs_auto — this corpus fits the in-memory
    # postings cap, so the seam plans the vectorized Arrow block
    # expansion (FlatMapGroupsInPandas; small corpora ride the
    # single-block fast lane with no combo join at all), never a
    # quadratic scan; the distributed inverted-index shape past the
    # cap is gated separately below
    assert "FlatMapGroupsInPandas" in executed

    # the web-scale inverted path keeps its capped postings
    # equi-join + pair-dedup aggregate shape
    from hands_on_trino_iceberg_superset_spark.operators import (
        dedup as D,
    )

    inv = D.containment_pairs_inverted(
        spark.table("plan_minhash_docs_v"), 0.9, n=8, max_df=10
    )
    inv_plan = inv._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in inv_plan
    assert "CartesianProduct" not in inv_plan
    assert ("SortMergeJoin" in inv_plan
            or "BroadcastHashJoin" in inv_plan
            or "ShuffledHashJoin" in inv_plan)
    assert "HashAggregate" in inv_plan


def test_sql_asof_table_function_plan_shape(spark, sf_dir):
    """TABLE(asof_join(...)) keeps the operator's shape through the
    SQL seam: union + last-value carry-forward in ONE window shuffle
    — NO join node at all (a per-row range/theta join would be the
    quadratic shape the operator exists to avoid)."""
    import pyspark.sql.functions as F

    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ats"),
        F.col("event_id").alias("purchase_id"),
    ).createOrReplaceTempView("plan_asof_l_v")
    ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ats"),
        F.col("event_id").alias("last_click_id"),
    ).createOrReplaceTempView("plan_asof_r_v")
    df = Engine(spark).sql(
        "SELECT purchase_id, user_id, last_click_id "
        "FROM TABLE(asof_join(left => 'plan_asof_l_v', "
        "right => 'plan_asof_r_v', on => 'user_id', "
        "order_col => 'ats', carry_cols => 'last_click_id'))"
    )
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in executed  # covers SortMerge/Hash/NestedLoop
    assert "CartesianProduct" not in executed
    assert "Window" in executed
    assert executed.count("Exchange") <= 2  # union shuffle, no more


def test_table_fn_unresolved_args_refuse_loudly(spark, sf_dir):
    """A TABLE(fn(...)) whose argument list the named-scalar grammar
    cannot parse (nested call / subquery) must get the ENGINE's
    grammar error, not Spark's unrelated parse error; an unknown
    function name under TABLE() gets the supported-function list.
    Parentheses INSIDE a quoted string argument are legal and must
    resolve (ADVICE r12: the old arg body regex rejected them)."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    eng = Engine(spark)
    with pytest.raises(ValueError, match="argument list could not"):
        eng.sql(
            "SELECT * FROM TABLE(dedup_exact("
            "docs => lower('documents')))"
        )
    with pytest.raises(ValueError, match="unknown table function"):
        eng.sql("SELECT * FROM TABLE(no_such_fn(docs => 'd'))")
    with pytest.raises(ValueError, match="integer, or decimal"):
        eng.sql(
            "SELECT * FROM TABLE(minhash_pairs("
            "docs => 'd', threshold => high))"
        )
    # a quoted view name CONTAINING parens resolves through the
    # grammar (and then fails on the missing table, not the regex)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "paren_docs_v"
    )
    n = eng.sql(
        "SELECT count(*) AS n FROM TABLE(dedup_exact("
        "docs => 'paren_docs_v'))"
    ).collect()[0][0]
    assert n > 0
    # the paren-bearing value reaches spark.table() intact — the
    # failure is Spark's (no such view / bad identifier), never the
    # engine's argument-grammar refusal
    with pytest.raises(Exception) as ei:
        eng.sql(
            "SELECT * FROM TABLE(dedup_exact(docs => 'my(view)'))"
        ).collect()
    assert "argument list could not" not in str(ei.value)


def test_sql_tokenize_table_function_plan_shape(spark, sf_dir):
    """TABLE(tokenize(...)) keeps the tokenizer family's volume
    routing through the SQL seam: the ONLY corpus-sized op is the
    word-frequency groupBy (one aggregate exchange); segmentation is
    an Arrow-batched MapInPandas over the vocab-sized word table —
    no join of any kind, and never more exchanges than the one
    aggregate needs."""
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "plan_tok_docs_v"
    )
    df = Engine(spark).sql(
        "SELECT word, freq, n_pieces, encoded "
        "FROM TABLE(tokenize(docs => 'plan_tok_docs_v', "
        "algo => 'wordpiece', top_k => 40))"
    )
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in executed  # Arrow-batched segmentation
    assert "Join" not in executed
    assert "CartesianProduct" not in executed
    # Since the r14 optimization round the vocab-sized word table is
    # materialized ONCE (localCheckpoint) before segmentation: the
    # returned plan must read the CHECKPOINTED table (Scan
    # ExistingRDD) with at most the vocab-selection exchanges on top
    # — and the checkpoint job itself (the word-frequency corpus
    # pass) must still be the one partial+final hash aggregate with
    # exactly one shuffle (ADVICE r14: the 'either marker' form let
    # any checkpointed intermediate pass regardless of aggregation
    # strategy).
    assert executed.count("Exchange") <= 2
    assert "Scan ExistingRDD" in executed
    from hands_on_trino_iceberg_superset_spark.operators import (
        wordpiece as WP,
    )

    words_plan = (
        WP.word_frequencies(spark.table("plan_tok_docs_v"), "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "HashAggregate" in words_plan
    assert words_plan.count("Exchange") == 1
    assert "Join" not in words_plan


def test_sql_textstats_table_functions_plan_shape(spark, sf_dir):
    """The text-analysis seam stays a ZERO-EXCHANGE pure map:
    TABLE(quality_scores(...)) plans with no join and no shuffle at
    all (every score derives from one document's own text), and the
    lang_id confusion-matrix shape — labels CARRIED through the map
    — needs exactly the one aggregate exchange, never a join back
    to the corpus."""
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "plan_ts_docs_v"
    )
    eng = Engine(spark)
    q = eng.sql(
        "SELECT * FROM TABLE(quality_scores("
        "docs => 'plan_ts_docs_v', chars_col => 'n_chars'))"
    )
    executed = q._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in executed
    assert "Exchange" not in executed  # zero-shuffle map

    cm = eng.sql(
        "SELECT lang AS labeled_lang, guessed_lang, count(*) AS n "
        "FROM TABLE(lang_id(docs => 'plan_ts_docs_v', "
        "carry_cols => 'lang')) GROUP BY lang, guessed_lang"
    )
    executed = cm._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in executed  # labels carried, not re-joined
    assert executed.count("Exchange") <= 1
    assert "HashAggregate" in executed

    # repetition: a per-source report over the carried source column
    # keeps the same shape — zero joins (the per-doc map needs no
    # explode/groupBy on (doc, word): the top-word multiplicity is a
    # sorted-run aggregate() fold), one aggregate exchange
    rep = eng.sql(
        "SELECT source, sum(n_dup_2grams) AS d "
        "FROM TABLE(repetition_signals(docs => 'plan_ts_docs_v', "
        "carry_cols => 'source')) GROUP BY source"
    )
    executed = rep._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in executed
    assert executed.count("Exchange") <= 1
    assert "HashAggregate" in executed
