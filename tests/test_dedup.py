"""Correctness gates for the probabilistic dedup operators (the ones
without a DuckDB oracle): MinHash-LSH against the exact-Jaccard
baseline, SimHash against algebraic invariants."""

from __future__ import annotations

import pyspark.sql.functions as F

from hands_on_trino_iceberg_superset_spark.operators import dedup as D
from hands_on_trino_iceberg_superset_spark.sources import load_table


def test_minhash_lsh_subset_and_recall(spark, sf_dir: str) -> None:
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in D.ngram_jaccard_pairs(docs, 0.4, n=2).collect()
    }
    lsh = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(docs, 0.4, n=2).collect()}
    # exact verification step ⇒ no false positives
    assert lsh <= set(exact)
    # banding (16 bands x 2 rows) catches J>=0.6 pairs w.p. ~0.998 each
    high = {p for p, j in exact.items() if j >= 0.6}
    if high:
        assert len(lsh & high) / len(high) >= 0.9
    # overall recall at the 0.4 threshold stays useful
    if exact:
        assert len(lsh & set(exact)) / len(exact) >= 0.6


def test_exact_duplicates_finds_planted_dup(spark) -> None:
    rows = [
        (1, "the quick brown fox"),
        (2, "The  quick  brown fox "),  # same after normalization
        (3, "something else entirely"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.keep_id: r.n_dups for r in D.exact_duplicates(df).collect()}
    assert out == {1: 2, 3: 1}


def test_simhash_identical_token_sets_collide(spark) -> None:
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "delta gamma beta alpha"),  # same token set -> same simhash
        (3, "totally different words here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {
        r.doc_id: r.sig
        for r in df.select(
            "doc_id", D.simhash64(F.split("text", " ")).alias("sig")
        ).collect()
    }
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    pairs = {(r.id_a, r.id_b): r.hamming for r in D.simhash_pairs(df, 3).collect()}
    assert pairs.get((1, 2)) == 0


def test_simhash_single_token_equals_token_hash(spark) -> None:
    # simhash of a one-token doc is exactly that token's xxhash64:
    # every bit vote is decided by the single hash's bit
    df = spark.createDataFrame([("spark",), ("iceberg",)], ["t"])
    out = df.select(
        D.simhash64(F.array(F.col("t"))).alias("sim"),
        F.xxhash64(F.col("t")).alias("h"),
    ).collect()
    for r in out:
        assert r.sim == r.h


def test_inverted_index_jaccard_matches_pairwise(spark, sf_dir: str) -> None:
    docs = load_table(spark, sf_dir, "documents")
    pairwise = {
        (r.id_a, r.id_b): round(r.jaccard_sim, 9)
        for r in D.ngram_jaccard_pairs(docs, 0.4, n=2, block_col="lang").collect()
    }
    inverted = {
        (r.id_a, r.id_b): round(r.jaccard_sim, 9)
        for r in D.ngram_jaccard_pairs_inverted(
            docs, 0.4, n=2, block_col="lang"
        ).collect()
    }
    assert inverted == pairwise


def test_minhash_agg_signatures_match_hof_formulation(spark, sf_dir) -> None:
    # minhash_lsh_pairs derives signatures from explode + min-aggs;
    # the claim is they equal minhash_signature (the HOF reference)
    docs = load_table(spark, sf_dir, "documents").limit(30)
    shingled = docs.select(
        F.col("doc_id").alias("id"),
        D.word_shingles(F.col("text"), 2).alias("sh"),
    ).where(F.size("sh") > 0)
    hof = {
        r.id: list(r.sig)
        for r in shingled.select(
            "id", D.minhash_signature(F.col("sh"), 32).alias("sig")
        ).collect()
    }
    base = shingled.select(
        "id", F.explode("sh").alias("s")
    ).select("id", F.pmod(F.xxhash64("s"), F.lit(D._P)).alias("h"))
    mins = []
    for i in range(32):
        a_i = D._stable_const(2 * i) | 1
        b_i = D._stable_const(2 * i + 1)
        mins.append(
            F.min(F.pmod(F.col("h") * F.lit(a_i) + F.lit(b_i), F.lit(D._P)))
            .alias(f"m{i}")
        )
    agg = {
        r.id: [r[f"m{i}"] for i in range(32)]
        for r in base.groupBy("id").agg(*mins).collect()
    }
    assert agg == hof


def test_simhash_signatures_match_hof_formulation(spark, sf_dir: str) -> None:
    # the scalable explode+groupBy signature must be bit-identical to
    # the column-expression simhash64 on real documents
    docs = load_table(spark, sf_dir, "documents").limit(50)
    hof = {
        r.doc_id: r.sig
        for r in docs.select(
            "doc_id", D.simhash64(F.split("text", " ")).alias("sig")
        ).collect()
    }
    agg = {r.id: r.sig for r in D.simhash_signatures(docs).collect()}
    assert agg == hof


def test_ngram_jaccard_identity(spark) -> None:
    rows = [(1, "a b c d e"), (2, "a b c d e"), (3, "v w x y z")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in D.ngram_jaccard_pairs(df, 0.99).collect()
    }
    assert pairs == {(1, 2): 1.0}


def test_inverted_df_cap_kills_boilerplate_blowup(spark) -> None:
    """A shingle shared by every document turns the postings join
    quadratic (df^2 rows); with max_df it leaves the universe and
    the surviving similarity is computed over the reduced sets."""
    boiler = "all rights reserved contact us for licensing terms"
    rows = [
        (i, f"unique{i} alpha{i} beta{i} gamma{i} delta{i} " + boiler)
        for i in range(60)
    ]
    # one true near-dup pair sharing their unique prefix
    rows.append((100, "same shared prefix words here one two three four"))
    rows.append((101, "same shared prefix words here one two three five"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in D.ngram_jaccard_pairs_inverted(
            df, threshold=0.4, n=2, max_df=10
        ).collect()
    }
    # boilerplate-only "pairs" are gone; the true pair survives
    assert set(capped) == {(100, 101)}
    # 8 bigrams each, 7 shared (none of them hot) -> J = 7/9
    assert abs(capped[(100, 101)] - 7 / 9) < 1e-12

    # parity oracle: capping == removing the hot shingles from the
    # texts themselves and running the exact quadratic operator
    stripped = df.withColumn(
        "text", F.regexp_replace("text", boiler, "")
    ).withColumn("text", F.trim("text"))
    expected = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in D.ngram_jaccard_pairs(stripped, 0.4, n=2).collect()
    }
    assert set(capped) == set(expected)

    # uncapped finds the same thresholded pairs on THIS corpus (the
    # boilerplate shingles only add sub-threshold noise pairs) --
    # i.e. the cap changed cost, not the reported near-dup set
    uncapped = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs_inverted(
            df, threshold=0.4, n=2
        ).collect()
    }
    assert (100, 101) in uncapped


def test_connected_components_chain_and_singleton(spark) -> None:
    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 21), (40, 2)], ["src", "dst"]
    )
    got = {
        r.node: r.component
        for r in D.connected_components(edges).collect()
    }
    # chain 5-3-9 plus 40-2 merges to min; pair 20-21 separate
    assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 2: 2, 40: 2}


def test_connected_components_long_chain_converges(spark) -> None:
    # a 30-node path needs ~diameter rounds; must still converge
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["src", "dst"]
    )
    got = {
        r.node: r.component
        for r in D.connected_components(edges, max_iter=40).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == 31


def test_connected_components_nonconvergence_raises(spark) -> None:
    """max_iter below the graph diameter must FAIL LOUDLY — silently
    returning split clusters is a wrong answer with no signal."""
    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(edges, max_iter=6)


def test_connected_components_star_path_graph(spark) -> None:
    """Large-star/small-star converges in O(log n) rounds on a path
    whose diameter (200) far exceeds what propagation could do in the
    same budget — the long-chain regime the flag exists for."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["src", "dst"]
    )
    got = {
        r.node: r.component
        for r in D.connected_components(
            edges, max_iter=20, method="star"
        ).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == 201


def test_connected_components_star_matches_propagate(spark) -> None:
    """Both methods agree on a mixed graph (chains, pair, merge via
    shared node, self-contained singleton edge)."""
    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 21), (40, 2), (9, 40), (7, 7)],
        ["src", "dst"],
    )
    prop = {
        r.node: r.component
        for r in D.connected_components(edges).collect()
    }
    star = {
        r.node: r.component
        for r in D.connected_components(edges, method="star").collect()
    }
    assert star == prop
    # 5-3-9-40-2 one component rooted at 2; 20-21; 7 alone
    assert star[5] == 2 and star[20] == 20 and star[7] == 7


def test_ngram_blocked_matches_inverted(spark, sf_dir: str) -> None:
    """The blocked in-memory postings join must be bit-identical to
    the distributed inverted index — both with and without lang
    blocking — including the float64 Jaccard values."""
    docs = load_table(spark, sf_dir, "documents")
    for blk in (None, "lang"):
        inv = {
            (r.id_a, r.id_b, r.jaccard_sim)
            for r in D.ngram_jaccard_pairs_inverted(
                docs, 0.4, 2, block_col=blk
            ).collect()
        }
        blocked = {
            (r.id_a, r.id_b, r.jaccard_sim)
            for r in D.ngram_jaccard_pairs_blocked(
                docs, 0.4, 2, block_col=blk
            ).collect()
        }
        assert blocked == inv and len(inv) > 0


def test_ngram_auto_routes_by_postings_volume(spark, sf_dir: str) -> None:
    """Router: under the postings cap auto takes the blocked
    in-memory plan; past it (forced with postings_cap=0) the
    distributed inverted plan — identical output either way."""
    docs = load_table(spark, sf_dir, "documents")
    auto = {
        (r.id_a, r.id_b, r.jaccard_sim)
        for r in D.ngram_jaccard_pairs_auto(docs, 0.4, 2).collect()
    }
    forced_inverted = {
        (r.id_a, r.id_b, r.jaccard_sim)
        for r in D.ngram_jaccard_pairs_auto(
            docs, 0.4, 2, postings_cap=0
        ).collect()
    }
    assert auto == forced_inverted and len(auto) > 0

    sparse = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(200)]
        + [(1000, " ".join(f"w7_{j}" for j in range(12)))],
        ["doc_id", "text"],
    )
    got = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs_auto(sparse, 0.9, 2).collect()
    }
    assert got == {(7, 1000)}  # the planted exact-duplicate pair


def test_incremental_exact_mark_invariants(spark) -> None:
    """Bloom tier has no false negatives (every true dup is a
    candidate), the exact tier has no false positives, and
    definitely-new rows skip the verify join."""
    corpus = spark.createDataFrame(
        [(f"fp{i}",) for i in range(500)], ["fp"]
    )
    batch = spark.createDataFrame(
        # 20 true dups of the corpus + 480 genuinely new
        [(i, f"fp{i}") for i in range(20)]
        + [(1000 + i, f"new{i}") for i in range(480)],
        ["row_id", "fp"],
    )
    marked = D.incremental_exact_mark(corpus, batch, fp_col="fp").collect()
    dups = {r.row_id for r in marked if r.is_dup}
    assert dups == set(range(20))
    # no false negatives: is_dup implies bloom_candidate
    assert all(r.bloom_candidate for r in marked if r.is_dup)
    # at fpp=1% over 480 new rows, candidates stay close to the true
    # dup count (generous bound: < 20 + 30 false positives)
    n_cand = sum(1 for r in marked if r.bloom_candidate)
    assert 20 <= n_cand < 50


def test_canonical_url_normalization_rules(spark) -> None:
    """Each normalization rule on a handcrafted case, plus
    idempotence (canonicalizing a canonical URL is a no-op)."""
    cases = [
        # scheme+host case, www, fragment
        ("HTTPS://WWW.Example.COM/A/b#frag", "https://example.com/A/b"),
        # tracking params dropped, survivors sorted, trailing slash
        ("https://e.com/p/?z=1&utm_source=x&a=2", "https://e.com/p?a=2&z=1"),
        # all-tracking query -> no query at all
        ("https://e.com/p?utm_medium=rss", "https://e.com/p"),
        # tracking-param match is case-insensitive; the kept
        # param's own case survives
        ("https://e.com/p?UTM_Source=x&B=1", "https://e.com/p?B=1"),
        # bare host, no path
        ("Https://www.e.com/", "https://e.com"),
        # path case preserved (RFC 3986: only scheme/host fold)
        ("http://E.com/CaseSensitive", "http://e.com/CaseSensitive"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [r.c for r in
           df.select(D.canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]
    df2 = spark.createDataFrame([(w,) for w in got], ["url"])
    again = [r.c for r in
             df2.select(D.canonical_url(F.col("url")).alias("c")).collect()]
    assert again == got


def test_containment_catches_quote_that_jaccard_misses(spark) -> None:
    """A short doc quoted verbatim inside a much longer page:
    containment reads 1.0 (every 8-gram of the quote appears in the
    page) while Jaccard sits at |A|/|B| — far below any dedup
    threshold. The symmetric-prefilter Jaccard operator must NOT
    report the pair at the same threshold."""
    quote = " ".join(f"q{i}" for i in range(20))
    page = (
        " ".join(f"intro{i}" for i in range(30))
        + " " + quote + " "
        + " ".join(f"outro{i}" for i in range(30))
    )
    unrelated = " ".join(f"z{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, quote), (2, page), (3, unrelated)], ["doc_id", "text"]
    )
    pairs = D.containment_pairs_inverted(df, threshold=0.9, n=8).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]
    (row,) = pairs
    assert row.containment == 1.0
    assert row.jaccard_sim < 0.25
    jac = D.ngram_jaccard_pairs_inverted(df, threshold=0.9, n=8).collect()
    assert jac == []


def test_containment_max_df_caps_boilerplate(spark) -> None:
    """A boilerplate 8-gram shared by many docs must not create
    all-pairs candidates when the cap is on: with max_df=2 the
    boilerplate shingle leaves the universe and only the true
    quote pair survives."""
    boiler = " ".join(f"b{i}" for i in range(8))
    quote = " ".join(f"q{i}" for i in range(20))
    rows = [(1, quote), (2, quote + " " + " ".join(f"t{i}" for i in range(20)))]
    rows += [(10 + k, boiler + " " + " ".join(f"u{k}_{i}" for i in range(20)))
             for k in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = D.containment_pairs_inverted(df, threshold=0.9, n=8,
                                          max_df=2).collect()
    assert [(r.id_a, r.id_b) for r in capped] == [(1, 2)]
    uncapped = D.containment_pairs_inverted(df, threshold=0.9, n=8).collect()
    # without the cap the 5 boilerplate docs pair among themselves
    # only if boilerplate-derived shingles clear the threshold — at
    # one shared shingle over ~13+ they don't; the gate here is that
    # the cap changes the CANDIDATE volume, not the result
    assert {(r.id_a, r.id_b) for r in uncapped} >= {(1, 2)}


def test_canonical_url_schemeless_never_null(spark) -> None:
    """Protocol-relative and bare addresses canonicalize under the
    same host/path rules with an empty scheme — never NULL (a NULL
    canonical would collapse every malformed address into one
    phantom duplicate cluster in a groupBy)."""
    cases = [
        ("//WWW.E.com/a/?utm_s=1", "e.com/a"),
        ("E.com/A#f", "e.com/A"),
        ("www.e.com", "e.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [r.c for r in
           df.select(D.canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_containment_max_df_prunes_boilerplate_postings(spark) -> None:
    """On a boilerplate-heavy corpus the max_df cap must (1) drop the
    hot shared shingles from the postings index — the Σmin(df,K)²
    bound — and (2) still report every real containment pair via the
    cold quote shingles."""
    boiler_pre = " ".join(f"hdr{i}" for i in range(12))
    boiler_post = " ".join(f"ftr{i}" for i in range(12))
    quotes = {i: " ".join(f"q{i}w{j}" for j in range(15))
              for i in range(12)}
    rows = [(i, q) for i, q in quotes.items()]
    rows += [(100 + i, f"{boiler_pre} {q} {boiler_post}")
             for i, q in quotes.items()]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    from hands_on_trino_iceberg_superset_spark.operators.dedup import (
        _shingle_postings,
    )

    uncapped = _shingle_postings(df, n=8, text_col="text",
                                 id_col="doc_id").count()
    capped = _shingle_postings(df, n=8, text_col="text",
                               id_col="doc_id", max_df=3).count()
    # 12 wrappers share every boilerplate-only 8-gram (df = 12 > 3)
    assert capped < uncapped

    got = {
        (r.id_a, r.id_b)
        for r in D.containment_pairs_inverted(
            df, threshold=0.9, n=8, max_df=3
        ).collect()
    }
    # every quote is contained in its wrapper; no wrapper-wrapper
    # boilerplate pair survives
    assert got == {(i, 100 + i) for i in range(12)}


def test_containment_blocked_matches_inverted(spark) -> None:
    """The r14 vectorized blocked containment path must be
    bit-identical to the distributed inverted index, capped and
    uncapped, and containment_pairs_auto must route this small
    corpus to the blocked plan (FlatMapGroupsInPandas) while the
    inverted path stays shuffle-join shaped. Forced onto the inverted
    route, containment_pairs_auto stores one frame, not two."""
    boiler_pre = " ".join(f"hdr{i}" for i in range(12))
    boiler_post = " ".join(f"ftr{i}" for i in range(12))
    quotes = {i: " ".join(f"q{i}w{j}" for j in range(15))
              for i in range(12)}
    rows = [(i, q) for i, q in quotes.items()]
    rows += [(100 + i, f"{boiler_pre} {q} {boiler_post}")
             for i, q in quotes.items()]
    rows += [(200, "short doc"), (201, "")]  # shingle-less docs
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    jsc = spark.sparkContext._jsc

    def canon(frame):
        return sorted(
            (r.id_a, r.id_b, r.containment, r.jaccard_sim)
            for r in frame.collect()
        )

    for max_df in (None, 3):
        inv = canon(D.containment_pairs_inverted(
            df, threshold=0.9, n=8, max_df=max_df))
        blk = canon(D.containment_pairs_blocked(
            df, threshold=0.9, n=8, max_df=max_df))
        auto_df = D.containment_pairs_auto(
            df, threshold=0.9, n=8, max_df=max_df)
        assert inv == blk == canon(auto_df)
        assert inv  # the fixture must actually produce pairs
        executed = auto_df._jdf.queryExecution() \
            .executedPlan().toString()
        assert "FlatMapGroupsInPandas" in executed
        assert "CartesianProduct" not in executed
        # postings_cap=0 forces the inverted route, which stores the
        # shingled corpus and nothing else
        before = set(jsc.getPersistentRDDs().keys())
        routed = D.containment_pairs_auto(
            df, threshold=0.9, n=8, max_df=max_df, postings_cap=0)
        assert len(set(jsc.getPersistentRDDs().keys()) - before) == 1
        assert canon(routed) == inv


def test_substring_rewrite_cuts_planted_span_keeps_flanks(spark) -> None:
    """A 60-token duplicate planted at an arbitrary mid-document
    offset (k=50, the Lee-et-al. regime) is cut from the LATER
    document only; its unique flanks and the entire source document
    survive, and the rewrite fingerprints prove the exact surviving
    text."""
    import hashlib

    src_toks = [f"a{i}" for i in range(200)]
    offset = 73  # arbitrary position, straddles any fixed grain
    quote = src_toks[offset : offset + 60]
    pre = [f"pre{i}" for i in range(17)]
    post = [f"post{i}" for i in range(9)]
    rows = [
        (1, " ".join(src_toks)),
        (2, " ".join(pre + quote + post)),
        (3, " ".join(f"b{i}" for i in range(30))),  # < k: kept whole
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in D.duplicate_span_rewrite(df, min_len=50).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert out[1].n_removed == 0
    assert out[1].kept_fingerprint == md5(" ".join(src_toks))
    assert out[2].n_tokens == 86
    assert out[2].n_removed == 60  # exactly the quote, nothing more
    assert out[2].kept_fingerprint == md5(" ".join(pre + post))
    assert out[3].n_removed == 0


def test_substring_rewrite_internal_repeat(spark) -> None:
    """A document repeating its own 60-token block twice keeps only
    the first copy (within-document duplicates are spans too)."""
    import hashlib

    block = [f"x{i}" for i in range(60)]
    df = spark.createDataFrame(
        [(7, " ".join(block + block))], ["doc_id", "text"]
    )
    row = D.duplicate_span_rewrite(df, min_len=50).collect()[0]
    assert (row.n_tokens, row.n_kept, row.n_removed) == (120, 60, 60)
    assert row.kept_fingerprint == hashlib.md5(
        " ".join(block).encode()
    ).hexdigest()


def test_decontaminate_cuts_benchmark_leaks_only(spark) -> None:
    """decontaminate_spans cuts exactly the spans shared with the
    benchmark: the leaked quote disappears from the training doc,
    its flanks survive, and TRAINING-INTERNAL duplicates are left
    alone (that is duplicate_span_rewrite's job)."""
    import hashlib

    bench_toks = [f"ev{i}" for i in range(120)]
    quote = bench_toks[31 : 31 + 60]
    pre = [f"p{i}" for i in range(11)]
    mid = [f"m{i}" for i in range(7)]
    internal = [f"d{i}" for i in range(55)]
    train_rows = [
        # leaks a 60-token benchmark span mid-document
        (1, " ".join(pre + quote + mid)),
        # internal repeat, shares nothing with the benchmark
        (2, " ".join(internal + internal)),
    ]
    bench = spark.createDataFrame([(100, " ".join(bench_toks))],
                                  ["doc_id", "text"])
    train = spark.createDataFrame(train_rows, ["doc_id", "text"])
    out = {r.doc_id: r
           for r in D.decontaminate_spans(train, bench,
                                          min_len=50).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert out[1].n_removed == 60
    assert out[1].kept_fingerprint == md5(" ".join(pre + mid))
    # internal duplicate untouched by DEcontamination
    assert out[2].n_removed == 0
    # benchmark side is never emitted (protected, not rewritten)
    assert set(out) == {1, 2}
