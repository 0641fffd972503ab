"""Lexical retrieval (BM25) and reciprocal-rank fusion gates:
known-answer scoring on a planted corpus, exact-decimal determinism,
and the fusion contract."""

from __future__ import annotations

import math

from hands_on_trino_iceberg_superset_spark.operators import retrieval as R


def _bm25_ref(corpus: dict[int, str], query: str,
              k1: float = 1.2, b: float = 0.75) -> dict[int, float]:
    """Reference BM25 with the operator's rounding contract."""
    toks = {d: t.split() for d, t in corpus.items()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    out: dict[int, float] = {}
    for d, t in toks.items():
        score = 0.0
        for term in set(query.split()):
            tf = t.count(term)
            if not tf:
                continue
            df = sum(term in set(tt) for tt in toks.values())
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            sat = (tf * (k1 + 1)) / (
                tf + k1 * (1 - b + b * len(t) / avgdl)
            )
            score += round(idf * sat, 9)
        if score:
            out[d] = round(score, 9)
    return out


def test_bm25_known_answer_and_ranking(spark):
    corpus = {
        1: "spark join window spark spark",
        2: "join window filter sort",
        3: "the the the customer order",
        4: "window",
    }
    docs = spark.createDataFrame(
        list(corpus.items()), ["doc_id", "text"]
    )
    queries = spark.createDataFrame(
        [("qa", "spark window"), ("qb", "customer")],
        ["qid", "qtext"],
    )
    got = {(r.qid, r.doc_id): (r.rank, r.score)
           for r in R.bm25_topk(docs, queries, k=10).collect()}
    ref = _bm25_ref(corpus, "spark window")
    # repeated query terms count once; scores match the reference
    for d, s in ref.items():
        assert abs(got[("qa", d)][1] - s) < 1e-9, d
    # doc 1 carries tf=3 'spark' (rare term): must rank first
    order = sorted(
        (d for q, d in got if q == "qa"),
        key=lambda d: got[("qa", d)][0],
    )
    assert order[0] == 1
    assert got[("qb", 3)][0] == 1  # only doc with 'customer'
    assert ("qb", 1) not in got    # no shared term -> no candidate


def test_rrf_fusion_contract(spark):
    """score = sum 1/(60+rank); a doc in both lists beats a doc at
    the same rank in one; ties break on doc_id."""
    lex = spark.createDataFrame(
        [("q", 1, 10), ("q", 2, 20)], ["qid", "rank", "doc_id"]
    )
    vec = spark.createDataFrame(
        [("q", 1, 20), ("q", 2, 30)], ["qid", "rank", "doc_id"]
    )
    out = {r.doc_id: r for r in R.rrf_fuse(lex, vec, k=10).collect()}
    # doc 20: lex rank 2 + vec rank 1
    assert abs(out[20].rrf - (1 / 62 + 1 / 61)) < 1e-15
    assert out[20].rank == 1          # in both lists -> wins
    assert out[10].r_vec is None      # lexical-only
    assert out[30].r_lex is None      # vector-only
    # 10 (lex rank 1) vs 30 (vec rank 2): 1/61 > 1/62
    assert out[10].rank == 2 and out[30].rank == 3


def _write_hybrid_fixture(root) -> None:
    """documents + embeddings parquet for the hybrid queries: 300
    documents, where anchors 100 and 200 (every 100th doc is one) and
    doc 7 have no embedding; the other
    testdata tables link to the smoke set so the oracle harness can
    register every view it expects."""
    import os
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hands_on_trino_iceberg_superset_spark.sources import TABLES
    from tests.conftest import SF_SMOKE

    n_docs, no_embedding = 300, (100, 200, 7)
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    texts = [" ".join(rng.choice(vocab) for _ in range(12))
             for _ in range(n_docs)]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"s{i % 5}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(root, "documents.parquet"))
    ids = [i for i in range(n_docs) if i not in no_embedding]
    # small integer components: cosine is exact enough on both
    # engines that the 6-digit rounding never straddles a tie
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(
            [[float(rng.randint(0, 4)) for _ in range(8)] for _ in ids],
            pa.list_(pa.float32())),
        "label": pa.array([i % 3 for i in ids], pa.int32()),
    }), os.path.join(root, "embeddings.parquet"))
    for name in TABLES:
        if name not in ("documents", "embeddings"):
            os.symlink(os.path.join(SF_SMOKE, f"{name}.parquet"),
                       os.path.join(root, f"{name}.parquet"))


def test_hybrid_queries_keep_lexical_arm_without_embedding(spark,
                                                            tmp_path):
    """Every 100th document is an anchor: its first tokens form the
    lexical query and its embedding, when it has one, the vector
    query. An anchor with no embedding keeps its lexical arm — the
    hybrid queries and the BI chart over sql_hybrid_topk must match
    their DuckDB oracles on a corpus where some anchors have none."""
    from hands_on_trino_iceberg_superset_spark.oracle import compare
    from hands_on_trino_iceberg_superset_spark.queries import load_all

    _write_hybrid_fixture(str(tmp_path))
    inv = load_all()
    for name in ("search_hybrid_rrf", "sql_hybrid_topk"):
        res = compare(inv[name], spark, str(tmp_path))
        assert res.ok, (name, res.detail)
        # anchors 0, 100, 200 each return k=10 fused rows
        assert res.spark_rows == 30, (name, res.spark_rows)
    res = compare(inv["bi_chart_hybrid_topk"], spark, str(tmp_path))
    assert res.ok, res.detail
