"""Deduplication operators for pretraining-corpus pipelines.

Four tiers, all pure-JVM expression pipelines (no Python in the hot
path), designed around the shuffle profile at 100 TB:

- **exact**: hash-groupBy on a normalized fingerprint. One shuffle on
  the fingerprint; survivors = min(id) per group.
- **n-gram Jaccard (exact pairs)**: word-shingle sets compared
  pairwise inside blocking groups. Quadratic within a block — only
  usable with tight blocking; the scale path is MinHash below.
- **MinHash + LSH**: k min-hashes from one xxhash64 pass per shingle
  (affine rehashing), banded into b buckets; candidate pairs emerge
  from an equi-join on (band, band_hash) — shuffle is linear in
  corpus size, never quadratic. Candidates are verified with exact
  Jaccard before reporting.
- **SimHash**: 64-bit signature from per-token hash bit-votes;
  near-duplicates are pairs within Hamming distance d, blocked by the
  pigeonhole principle (split signature into d+1 chunks; any pair at
  distance <= d shares at least one exact chunk -> equi-join on
  chunks).

Determinism: every hash is xxhash64 (fixed seed inside Spark), so
results are reproducible across runs and cluster sizes.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (resolves pandas_udf type hints)
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# ---------------------------------------------------------------- exact


def normalized_fingerprint(text: Column) -> Column:
    """md5 over lowercased, whitespace-collapsed text."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct content: (fingerprint, keep_id, n_dups).

    Single shuffle on the 128-bit fingerprint; partial aggregation
    makes the map side emit one row per distinct fingerprint per
    partition, so the shuffle volume is bounded by distinct content.
    """
    return (
        df.select(
            F.col(id_col).alias("id"),
            normalized_fingerprint(F.col(text_col)).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def canonical_url(url: Column) -> Column:
    """URL normalization for crawl-frontier / document dedup — the
    first dedup tier of a web corpus (dedup by address before any
    content hashing): lowercase scheme and host, strip a leading
    ``www.``, drop the fragment, drop tracking parameters
    (``utm_*``), sort the surviving query parameters, and strip one
    trailing slash from the path. Path CASE is preserved (paths are
    case-sensitive per RFC 3986; only scheme/host are not).

    Pure JVM expression pipeline (split/regexp/higher-order array
    ops) — safe in the scan projection of a 100 TB crawl with no
    shuffle and no Python.
    """
    no_frag = F.split(url, "#").getItem(0)
    parts = F.split(no_frag, r"\?")
    base = parts.getItem(0)
    qs = F.when(F.size(parts) > 1, parts.getItem(1)).otherwise(F.lit(""))
    # scheme-less inputs (protocol-relative '//host/p', bare
    # 'host/p') canonicalize under the same host/path/param rules
    # with an empty scheme part — NEVER null: a null canonical would
    # make every malformed address in a groupBy collapse into one
    # phantom duplicate cluster
    has_scheme = base.contains("://")
    scheme = F.when(
        has_scheme,
        F.concat(F.lower(F.split(base, "://").getItem(0)),
                 F.lit("://")),
    ).otherwise(F.lit(""))
    rest = F.when(has_scheme, F.split(base, "://").getItem(1)) \
        .otherwise(F.regexp_replace(base, "^//", ""))
    host = F.regexp_replace(
        F.lower(F.split(rest, "/").getItem(0)), r"^www\.", ""
    )
    path = F.regexp_replace(
        F.regexp_replace(rest, r"^[^/]*", ""), "/$", ""
    )
    # tracking-param match is case-INSENSITIVE (real crawls carry
    # UTM_SOURCE=... too); the surviving param text keeps its case
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(qs, "&"),
                lambda x: (~F.lower(x).startswith("utm_")) & (x != ""),
            )
        ),
        "&",
    )
    return F.concat(
        scheme, host, path,
        F.when(params == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), params)
        ),
    )


# ------------------------------------------------------------- shingles


def word_shingles(text: Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles (array<string>) of the text.

    Built from ``zip_with`` over shifted ``slice``s of the token
    array: each argument array is evaluated ONCE per row. (The
    tempting ``transform(sequence(...), i -> element_at(toks, i+j))``
    formulation re-evaluates the ``split`` subtree per element —
    interpreted higher-order lambdas do no common-subexpression
    elimination — turning shingling O(words^2) per document.)
    """
    toks = F.split(text, " ")
    if n == 1:
        return F.array_distinct(toks)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for j in range(1, n):
        out = F.zip_with(
            out,
            F.slice(toks, 1 + j, m),
            lambda acc, t: F.concat(acc, F.lit(" "), t),
        )
    return F.array_distinct(out)


def jaccard(a: Column, b: Column) -> Column:
    """|a ∩ b| / |a ∪ b| for two distinct-element arrays, as DOUBLE
    (integer counts divided at the end — deterministic)."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter)


# ---------------------------------------------- exact pairwise Jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 2,
    block_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-Jaccard >= threshold.

    Quadratic within each block — ``block_col`` is required at scale
    (or use :func:`minhash_lsh_pairs`); with ``None`` it cross-pairs
    the whole input (testing / small corpora only).

    Two value-preserving accelerations over the naive formulation:

    - shingles are hashed to BIGINT before the join (xxhash64 is
      injective modulo ~2^-64 collisions, so intersection/union
      *sizes* — all Jaccard needs — are unchanged), making the
      per-pair ``array_intersect`` compare longs instead of strings;
    - a size-ratio prefilter rides in the join condition:
      ``J(a,b) <= min(|a|,|b|)/max(|a|,|b|)``, so ``J >= t`` requires
      ``|a| >= t*|b|`` and ``|b| >= t*|a|`` — pairs failing the cheap
      integer test never reach the intersect.
    """
    shingled = df.select(
        F.col(id_col).alias("id"),
        *( [F.col(block_col).alias("block")] if block_col else [] ),
        F.transform(
            word_shingles(F.col(text_col), n), lambda s: F.xxhash64(s)
        ).alias("sh"),
    ).withColumn("sz", F.size("sh"))
    # shingle-less docs (shorter than n words) have no Jaccard
    # identity; keeping them would also divide by zero on a pair of
    # two empty sets
    shingled = shingled.where(F.col("sz") > 0)
    a = shingled.alias("a")
    b = shingled.alias("b")
    cond = (
        (F.col("a.id") < F.col("b.id"))
        & (F.col("a.sz") >= threshold * F.col("b.sz"))
        & (F.col("b.sz") >= threshold * F.col("a.sz"))
    )
    if block_col:
        cond = cond & (F.col("a.block") == F.col("b.block"))
    sim = jaccard(F.col("a.sh"), F.col("b.sh"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            sim.alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )


def _shingle_postings(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    block_col: str | None = None,
    max_df: int | None = None,
    _shingled: DataFrame | None = None,
) -> DataFrame:
    """Shared inverted-index builder: one posting row per (doc,
    distinct shingle-hash), carrying the doc's set size ``sz`` (over
    the max_df-reduced universe when the cap is on — see
    :func:`ngram_jaccard_pairs_inverted` for the cap semantics).

    ``_shingled`` (r15 optimization round): an already-built
    ``(id, [block,] sh)`` frame — the auto router's checkpointed
    shingling — so the probe and the expansion share ONE shingling
    pass (it must carry a ``block`` column when ``block_col`` is
    set). Empty-``sh`` docs vanish on explode either way, so a
    ``size(sh) > 0``-filtered frame produces identical postings.
    """
    if _shingled is not None:
        shingled = _shingled.withColumn("sz", F.size("sh"))
    else:
        shingled = df.select(
            F.col(id_col).alias("id"),
            *([F.col(block_col).alias("block")] if block_col else []),
            F.transform(
                word_shingles(F.col(text_col), n),
                lambda s: F.xxhash64(s),
            ).alias("sh"),
        ).withColumn("sz", F.size("sh"))
    postings = shingled.select(
        "id", "sz",
        *( ["block"] if block_col else [] ),
        F.explode("sh").alias("s"),
    )
    if max_df is not None:
        keys = ["block", "s"] if block_col else ["s"]
        hot = (
            postings.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select(*keys)
        )
        pruned = postings.join(F.broadcast(hot), keys, "left_anti")
        # set sizes over the reduced universe, so |a ∪ b| stays
        # consistent with the intersection counts
        sz2 = pruned.groupBy("id").agg(F.count(F.lit(1)).alias("sz2"))
        postings = (
            pruned.drop("sz")
            .join(sz2, "id")
            .withColumnRenamed("sz2", "sz")
        )
    return postings


def containment_pairs_inverted(
    df: DataFrame,
    threshold: float,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    _shingled: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-duplication: containment
    ``C(a,b) = |A ∩ B| / min(|A|, |B|)`` over distinct word
    ``n``-gram shingles — the signal symmetric Jaccard structurally
    MISSES when a short document is quoted verbatim inside a longer
    one (J is capped at ``min/max`` of the set sizes, so a fully
    contained quote inside a 2x-longer page can never clear a 0.9
    Jaccard dedup threshold; containment reads 1.0). The standard
    second pass of web-corpus dedup after document-level MinHash.

    Same inverted-index postings join as
    :func:`ngram_jaccard_pairs_inverted` — cost Σ df(s)², max_df
    bounds hot boilerplate shingles at web scale — but deliberately
    WITHOUT the symmetric size-ratio prefilter: asymmetric pairs are
    exactly the ones that filter exists to drop.

    Returns (id_a, id_b, containment, jaccard_sim) for pairs with
    containment >= threshold; both metrics are exact-integer counts
    divided once as DOUBLE.
    """
    postings = _shingle_postings(
        df, n=n, text_col=text_col, id_col=id_col, max_df=max_df,
        _shingled=_shingled,
    )
    a, b = postings.alias("a"), postings.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    cont = F.col("inter").cast("double") / F.least("sz_a", "sz_b")
    jac = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    )
    return inter.select(
        "id_a", "id_b",
        cont.alias("containment"), jac.alias("jaccard_sim"),
    ).where(F.col("containment") >= threshold)


def containment_pairs_blocked(
    df: DataFrame,
    threshold: float,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    n_blocks: int = 8,
    chunk_rows: int = 20_000_000,
    _hot=None,
    _shingled: DataFrame | None = None,
) -> DataFrame:
    """Same output as :func:`containment_pairs_inverted`, computed as
    a vectorized in-memory postings join per doc-block pair — the
    exact path when the corpus's postings fit worker memory (the
    containment twin of :func:`ngram_jaccard_pairs_blocked`, r14
    optimization round).

    The inverted index's irreducible work is ``Σ min(df,K)²`` pair
    emissions; paying it as shuffled Spark rows costs ~30x more per
    emission than the numpy sorted-merge expansion inside an Arrow
    block task. Docs hash into ``n_blocks`` blocks, each unordered
    block pair is one ``applyInPandas`` group, and within a group the
    intersection counts come from one searchsorted-aligned
    repeat/gather + ``unique`` — exact integer counts, float64
    division, bit-identical to the inverted path.

    ``max_df``: the same hot-shingle cap semantics as the inverted
    path — shingles whose corpus-wide document frequency exceeds the
    cap leave the universe and set sizes recompute over survivors.
    The hot list is tiny by construction (few shingles exceed K); it
    is collected once driver-side (``_hot`` lets the auto router pass
    one it already computed) and applied as a vectorized ``np.isin``
    mask inside each block task.
    """
    import numpy as np
    import pandas as pd

    if _shingled is not None:
        # the auto router's checkpointed (id, sh) frame: one
        # shingling pass shared with the stats probe (r15)
        shingled = _shingled
    else:
        shingled = df.select(
            F.col(id_col).alias("id"),
            F.transform(
                word_shingles(F.col(text_col), n),
                lambda s: F.xxhash64(s),
            ).alias("sh"),
        ).where(F.size("sh") > 0)
    if max_df is not None and _hot is None:
        hot_rows = (
            shingled.select(F.explode("sh").alias("s"))
            .groupBy("s").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("s").collect()
        )
        _hot = np.array([r.s for r in hot_rows], dtype=np.int64)
    hot_arr = (
        np.asarray(_hot, dtype=np.int64)
        if _hot is not None else np.empty(0, np.int64)
    )
    if n_blocks == 1:
        # single-block fast lane: every doc ships ONCE (no combo
        # join, no union double-scan of the shingling pipeline) and
        # the group self-expands — the common case once the auto
        # router sizes n_blocks from the measured postings count
        tagged = shingled.select(
            F.lit(0).alias("bi"), F.lit(0).alias("bj"),
            "id", "sh", F.lit("a").alias("role"),
        )
    else:
        v = shingled.withColumn(
            "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks))
        )
        combos = [(i, j)
                  for i in range(n_blocks) for j in range(i, n_blocks)]
        combos_df = df.sparkSession.createDataFrame(
            combos, "bi int, bj int"
        )
        side_a = v.join(
            F.broadcast(combos_df), v.blk == combos_df.bi
        ).select("bi", "bj", "id", "sh", F.lit("a").alias("role"))
        # diagonal groups self-expand from the a-copy; only
        # off-diagonal combos need the second copy
        side_b = v.join(
            F.broadcast(combos_df),
            (v.blk == combos_df.bj) & (combos_df.bi != combos_df.bj),
        ).select("bi", "bj", "id", "sh", F.lit("b").alias("role"))
        tagged = side_a.unionAll(side_b)
    thr = threshold

    def postings(rows: pd.DataFrame):
        sh = rows["sh"].to_numpy()
        lens = np.fromiter(
            (len(x) for x in sh), dtype=np.int64, count=len(sh)
        )
        docs = np.repeat(np.arange(len(sh), dtype=np.int64), lens)
        hashes = (
            np.concatenate([np.asarray(x, dtype=np.int64) for x in sh])
            if len(sh)
            else np.empty(0, np.int64)
        )
        if len(hot_arr) and len(hashes):
            keep = ~np.isin(hashes, hot_arr)
            hashes, docs = hashes[keep], docs[keep]
            # set sizes over the reduced universe, exactly like the
            # inverted path's sz2 recompute
            lens = np.bincount(docs, minlength=len(sh)).astype(np.int64)
        order = np.argsort(hashes, kind="stable")
        return hashes[order], docs[order], lens

    def expand_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"),
             "id_b": pd.Series(dtype="int64"),
             "containment": pd.Series(dtype="float64"),
             "jaccard_sim": pd.Series(dtype="float64")}
        )
        diag = key[0] == key[1]
        a_rows = pdf[pdf["role"] == "a"]
        b_rows = a_rows if diag else pdf[pdf["role"] == "b"]
        if a_rows.empty or b_rows.empty:
            return empty
        ha, da, lens_a = postings(a_rows)
        hb, db, lens_b = (ha, da, lens_a) if diag \
            else postings(b_rows)
        lo = np.searchsorted(hb, ha, side="left")
        hi = np.searchsorted(hb, ha, side="right")
        span = hi - lo
        csum = np.cumsum(span)
        total = int(csum[-1]) if len(csum) else 0
        if total == 0:
            return empty
        n_b = len(b_rows)
        cuts = np.searchsorted(
            csum, np.arange(chunk_rows, total, chunk_rows), side="left"
        )
        bounds = [0, *(int(c) + 1 for c in cuts), len(ha)]
        key_parts, cnt_parts = [], []
        for s0, s1 in zip(bounds[:-1], bounds[1:]):
            if s0 >= s1:
                continue
            L = span[s0:s1]
            t = int(L.sum())
            if t == 0:
                continue
            exp_a = np.repeat(da[s0:s1], L)
            starts = np.repeat(lo[s0:s1], L)
            offs = np.arange(t, dtype=np.int64) - np.repeat(
                np.cumsum(L) - L, L
            )
            exp_b = db[starts + offs]
            uk, cnt = np.unique(exp_a * n_b + exp_b, return_counts=True)
            key_parts.append(uk)
            cnt_parts.append(cnt)
        keys = np.concatenate(key_parts)
        cnts = np.concatenate(cnt_parts)
        if len(key_parts) > 1:
            keys, inv = np.unique(keys, return_inverse=True)
            cnts = np.bincount(inv, weights=cnts.astype(np.float64))
        ia = keys // n_b
        ib = keys % n_b
        inter = cnts.astype(np.float64)
        la, lb = lens_a[ia], lens_b[ib]
        cont = inter / np.minimum(la, lb)
        jac = inter / (la + lb - inter)
        ids_a = a_rows["id"].to_numpy()[ia]
        ids_b = b_rows["id"].to_numpy()[ib]
        order_ok = ids_a < ids_b if diag else ids_a != ids_b
        keep = (cont >= thr) & order_ok
        lo_id = np.minimum(ids_a[keep], ids_b[keep])
        hi_id = np.maximum(ids_a[keep], ids_b[keep])
        return pd.DataFrame(
            {"id_a": lo_id, "id_b": hi_id,
             "containment": cont[keep], "jaccard_sim": jac[keep]}
        )

    return tagged.groupBy("bi", "bj").applyInPandas(
        expand_block,
        "id_a long, id_b long, containment double, jaccard_sim double",
    )


def _blocked_n_blocks(postings: int, df2: int) -> int:
    """Block count for the vectorized blocked postings paths, from
    the measured workload: per-block postings memory (~4M rows) and
    per-block-pair expansion compute (~4M emissions; expansion of a
    block pair is ~df2 / n_blocks²) both bound it; tiny corpora get
    the single-block fast lane."""
    import math

    by_mem = -(-postings // 4_000_000)
    by_exp = math.isqrt(max(0, df2 - 1) // 1_000_000) + 1
    return max(1, min(64, max(by_mem, by_exp)))


def containment_pairs_auto(
    df: DataFrame,
    threshold: float,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    postings_cap: int = 100_000_000,
) -> DataFrame:
    """Exact containment pairs with the same scale-adaptive plan
    choice as :func:`ngram_jaccard_pairs_auto` (r14 optimization
    round): one linear probe pass measures the (max_df-reduced)
    postings count, corpora under ``postings_cap`` pay the ``Σdf²``
    postings join as vectorized numpy inside Arrow block tasks
    (:func:`containment_pairs_blocked`), anything larger takes the
    distributed inverted index (:func:`containment_pairs_inverted`)
    — the true web-scale shape. Output identical either way.

    r15 optimization round: the shingled ``(id, sh)`` frame is built
    ONCE and lazily checkpointed — the stats probe materializes it
    and the chosen expansion path (blocked or inverted) reuses the
    stored rows instead of re-running tokenize + shingle + hash over
    the corpus (the probe used to be a full extra shingling pass,
    and the blocked path shingled AGAIN — dedup_containment was the
    slowest bench row at 4.5 s for exactly this). The hot-shingle
    list under ``max_df`` is collected only AFTER routing decides on
    the blocked path (it is unused — and largest — on the inverted
    route, which recomputes it distributedly; collecting it up front
    risked driver memory exactly at web scale, ADVICE r14).
    """
    import numpy as np

    shingled = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            word_shingles(F.col(text_col), n), lambda s: F.xxhash64(s)
        ).alias("sh"),
    ).where(F.size("sh") > 0).localCheckpoint(eager=False)
    # not stored: the stats probe reads it once, and the blocked
    # route's hot list re-aggregates the stored ``shingled`` rows
    per_shingle = (
        shingled.select(F.explode("sh").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    live = F.lit(True) if max_df is None else F.col("c") <= max_df
    row = per_shingle.agg(
        F.sum(F.when(live, F.col("c")).otherwise(F.lit(0)))
        .alias("postings"),
        F.sum(F.when(live, F.col("c") * F.col("c")).otherwise(F.lit(0)))
        .alias("df2"),
    ).collect()[0]
    postings = int(row["postings"] or 0)
    df2 = int(row["df2"] or 0)
    if postings <= postings_cap:
        if max_df is None:
            hot = None
        else:
            # bounded by construction (few shingles exceed the cap:
            # at most postings_total/max_df values), and only ever
            # collected on this in-memory route
            hot_rows = (
                per_shingle.where(F.col("c") > max_df)
                .select("s").collect()
            )
            hot = np.array([r.s for r in hot_rows], dtype=np.int64)
        # block count sized from the MEASURED workload (postings for
        # per-block memory, Σdf² for per-block-pair expansion
        # compute); small corpora ride the single-block fast lane
        # (one shuffle, one Arrow task, each doc shipped once)
        n_blocks = _blocked_n_blocks(postings, df2)
        return containment_pairs_blocked(
            df, threshold, n=n, text_col=text_col, id_col=id_col,
            max_df=max_df, n_blocks=n_blocks, _hot=hot,
            _shingled=shingled,
        )
    return containment_pairs_inverted(
        df, threshold, n=n, text_col=text_col, id_col=id_col,
        max_df=max_df, _shingled=shingled,
    )


def ngram_jaccard_pairs_inverted(
    df: DataFrame,
    threshold: float,
    n: int = 2,
    block_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    _shingled: DataFrame | None = None,
) -> DataFrame:
    """Same output as :func:`ngram_jaccard_pairs`, via an inverted
    index instead of a pairwise block join.

    Explode each doc's distinct shingles into postings, equi-join
    postings on (block, shingle-hash) — one row per *common* shingle
    per pair — then ``groupBy(pair).count()`` is exactly the
    intersection size (shingles are distinct within a doc), and
    ``|a ∪ b| = sz_a + sz_b - inter``. Cost is ``Σ_s df(s)²`` join
    rows rather than ``pairs × intersect``, i.e. near-linear when
    shingles are rare; docs sharing nothing never meet.

    ``max_df``: the web-scale guard. One boilerplate shingle in d
    documents contributes d² postings-join rows while carrying almost
    no discrimination; with ``max_df=K`` shingles whose document
    frequency exceeds K are removed from the universe (both from the
    postings AND from each doc's set size), bounding the join at
    ``Σ min(df,K)²`` — Jaccard is then computed over the reduced
    shingle universe (stopword-shingle removal semantics, still
    symmetric and deterministic). The hot-shingle list is tiny by
    construction (few shingles exceed K) and anti-joins broadcast.
    ``None`` disables the cap (exact semantics, small corpora /
    tight blocks only).
    """
    postings = _shingle_postings(
        df, n=n, text_col=text_col, id_col=id_col,
        block_col=block_col, max_df=max_df, _shingled=_shingled,
    )
    a, b = postings.alias("a"), postings.alias("b")
    cond = (
        (F.col("a.s") == F.col("b.s"))
        & (F.col("a.id") < F.col("b.id"))
        & (F.col("a.sz") >= threshold * F.col("b.sz"))
        & (F.col("b.sz") >= threshold * F.col("a.sz"))
    )
    if block_col:
        cond = cond & (F.col("a.block") == F.col("b.block"))
    inter = (
        a.join(b, cond)
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sim = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    )
    return inter.select(
        "id_a", "id_b", sim.alias("jaccard_sim")
    ).where(F.col("jaccard_sim") >= threshold)


def ngram_jaccard_pairs_blocked(
    df: DataFrame,
    threshold: float,
    n: int = 2,
    block_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_blocks: int = 8,
    chunk_rows: int = 20_000_000,
    _shingled: DataFrame | None = None,
) -> DataFrame:
    """Same output as :func:`ngram_jaccard_pairs_inverted`, computed
    as a vectorized in-memory postings join per doc-block pair — the
    exact path when per-block postings fit worker memory.

    The inverted index's cost measure is ``Σ_s df(s)²`` join rows;
    that work is irreducible for exact all-pairs Jaccard, but paying
    it as SHUFFLED SPARK ROWS (~100 ns/row: serialize, hash, spill,
    aggregate) is ~30x more expensive than paying it as numpy
    vector operations. Here docs hash into ``n_blocks`` blocks, each
    unordered block pair becomes one Arrow ``applyInPandas`` group
    (identical shuffle shape to
    :func:`similarity.cosine_neardup_pairs` — each doc ships
    ``n_blocks`` times), and within a group the postings join is a
    sorted-merge expansion: sort both sides' (shingle-hash, doc)
    postings, ``searchsorted`` aligns the per-shingle spans, one
    ``repeat``/gather materializes the matching (doc_a, doc_b) pairs,
    and one ``unique`` counts them — the intersection sizes. Exact
    integer counts, float64 Jaccard division: bit-identical to the
    inverted path. Expansion materialization is chunked at
    ``chunk_rows`` to bound peak memory.

    Unlike a dense bitset/GEMM formulation (``n² · vocab`` work, a
    broadcast vocabulary dictionary), this does exactly ``Σdf²``
    work with NO vocabulary structure at all, so it serves sparse
    and dense corpora alike; its only limit is per-block postings
    memory, which ``n_blocks`` controls. Past that limit (true
    web-scale), :func:`ngram_jaccard_pairs_inverted` with ``max_df``
    is the distributed answer.
    """
    import numpy as np
    import pandas as pd

    if _shingled is not None:
        # the auto router's checkpointed (id, [block,] sh) frame:
        # one shingling pass shared with the stats probe (r15)
        shingled = _shingled
    else:
        shingled = df.select(
            F.col(id_col).alias("id"),
            *([F.col(block_col).alias("block")] if block_col else []),
            F.transform(
                word_shingles(F.col(text_col), n),
                lambda s: F.xxhash64(s),
            ).alias("sh"),
        ).where(F.size("sh") > 0)
    group_keys = (["block"] if block_col else []) + ["bi", "bj"]
    if n_blocks == 1:
        # single-block fast lane (r14 optimization round): each doc
        # ships ONCE — no combo join, no union double-scan — and the
        # group self-expands (the auto router picks this whenever
        # the measured postings fit one task)
        tagged = shingled.select(
            *([F.col("block")] if block_col else []),
            F.lit(0).alias("bi"), F.lit(0).alias("bj"),
            "id", "sh", F.lit("a").alias("role"),
        )
    else:
        v = shingled.withColumn(
            "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks))
        )
        combos = [(i, j)
                  for i in range(n_blocks) for j in range(i, n_blocks)]
        combos_df = df.sparkSession.createDataFrame(
            combos, "bi int, bj int"
        )
        side_a = v.join(
            F.broadcast(combos_df), v.blk == combos_df.bi
        ).select(*group_keys, "id", "sh", F.lit("a").alias("role"))
        # diagonal groups self-expand from the a-copy; only
        # off-diagonal combos need the second copy
        side_b = v.join(
            F.broadcast(combos_df),
            (v.blk == combos_df.bj) & (combos_df.bi != combos_df.bj),
        ).select(*group_keys, "id", "sh", F.lit("b").alias("role"))
        tagged = side_a.unionAll(side_b)
    thr = threshold
    diag_at = len(group_keys) - 2  # key position of bi (bj follows)

    def postings(rows: pd.DataFrame):
        sh = rows["sh"].to_numpy()
        lens = np.fromiter(
            (len(x) for x in sh), dtype=np.int64, count=len(sh)
        )
        docs = np.repeat(np.arange(len(sh), dtype=np.int64), lens)
        hashes = (
            np.concatenate([np.asarray(x, dtype=np.int64) for x in sh])
            if len(sh)
            else np.empty(0, np.int64)
        )
        order = np.argsort(hashes, kind="stable")
        return hashes[order], docs[order], lens

    def expand_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"),
             "id_b": pd.Series(dtype="int64"),
             "jaccard_sim": pd.Series(dtype="float64")}
        )
        diag = key[diag_at] == key[diag_at + 1]
        a_rows = pdf[pdf["role"] == "a"]
        b_rows = a_rows if diag else pdf[pdf["role"] == "b"]
        if a_rows.empty or b_rows.empty:
            return empty
        ha, da, lens_a = postings(a_rows)
        hb, db, lens_b = (ha, da, lens_a) if diag \
            else postings(b_rows)
        lo = np.searchsorted(hb, ha, side="left")
        hi = np.searchsorted(hb, ha, side="right")
        span = hi - lo
        csum = np.cumsum(span)
        total = int(csum[-1]) if len(csum) else 0
        if total == 0:
            return empty
        n_b = len(b_rows)
        # chunk the expansion: split the a-postings index space where
        # the cumulative expansion crosses chunk_rows
        cuts = np.searchsorted(
            csum, np.arange(chunk_rows, total, chunk_rows), side="left"
        )
        bounds = [0, *(int(c) + 1 for c in cuts), len(ha)]
        key_parts, cnt_parts = [], []
        for s0, s1 in zip(bounds[:-1], bounds[1:]):
            if s0 >= s1:
                continue
            L = span[s0:s1]
            t = int(L.sum())
            if t == 0:
                continue
            exp_a = np.repeat(da[s0:s1], L)
            starts = np.repeat(lo[s0:s1], L)
            offs = np.arange(t, dtype=np.int64) - np.repeat(
                np.cumsum(L) - L, L
            )
            exp_b = db[starts + offs]
            uk, cnt = np.unique(exp_a * n_b + exp_b, return_counts=True)
            key_parts.append(uk)
            cnt_parts.append(cnt)
        keys = np.concatenate(key_parts)
        cnts = np.concatenate(cnt_parts)
        if len(key_parts) > 1:  # re-combine chunk-straddling pairs
            keys, inv = np.unique(keys, return_inverse=True)
            cnts = np.bincount(inv, weights=cnts.astype(np.float64))
        ia = keys // n_b
        ib = keys % n_b
        inter = cnts.astype(np.float64)
        jac = inter / (lens_a[ia] + lens_b[ib] - inter)
        ids_a = a_rows["id"].to_numpy()[ia]
        ids_b = b_rows["id"].to_numpy()[ib]
        if key[diag_at] == key[diag_at + 1]:
            order_ok = ids_a < ids_b
        else:
            order_ok = ids_a != ids_b
        keep = (jac >= thr) & order_ok
        lo_id = np.minimum(ids_a[keep], ids_b[keep])
        hi_id = np.maximum(ids_a[keep], ids_b[keep])
        return pd.DataFrame(
            {"id_a": lo_id, "id_b": hi_id, "jaccard_sim": jac[keep]}
        )

    return tagged.groupBy(*group_keys).applyInPandas(
        expand_block, "id_a long, id_b long, jaccard_sim double"
    )


def ngram_jaccard_stats(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[int, int, int]:
    """(postings, distinct shingles, Σdf²) in ONE aggregation pass —
    the standalone linear-cost density probe (capacity planning /
    diagnostics). :func:`ngram_jaccard_pairs_auto` runs the same
    aggregate inline off its checkpointed shingled frame since the
    r15 optimization round, so routing shares the shingling pass.
    ``Σdf²`` is exactly the inverted index's join-row count;
    ``postings / distinct`` is the mean document frequency."""
    posts = df.select(
        F.explode(word_shingles(F.col(text_col), n)).alias("s")
    )
    row = posts.groupBy("s").count().agg(
        F.sum("count").alias("postings"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.col("count") * F.col("count")).alias("df2"),
    ).collect()[0]
    return int(row["postings"] or 0), int(row["vocab"] or 0), int(row["df2"] or 0)


def ngram_jaccard_pairs_auto(
    df: DataFrame,
    threshold: float,
    n: int = 2,
    block_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    postings_cap: int = 100_000_000,
) -> DataFrame:
    """Exact n-gram Jaccard pairs with scale-adaptive plan choice.

    The exact computation's irreducible work is the postings join
    (``Σ df(s)²`` pair emissions); the choice is only WHERE to pay
    it:

    - **blocked in-memory** (:func:`ngram_jaccard_pairs_blocked`):
      pays it as vectorized numpy ops inside Arrow block tasks —
      ~30x cheaper per emission than a shuffle row. Valid while the
      corpus's postings fit block-task memory, measured by one
      linear-cost stats pass (``postings <= postings_cap``).
    - **distributed inverted index**
      (:func:`ngram_jaccard_pairs_inverted`): past the cap, the
      postings join must shuffle; ``max_df`` bounds hot shingles.
      This is the true web-scale shape.

    Output is identical either way (exact integer counts, float64
    Jaccard).

    r15 optimization round: like :func:`containment_pairs_auto`, the
    shingled frame is built ONCE and lazily checkpointed — the stats
    probe materializes it and the routed expansion reuses the stored
    rows instead of re-running tokenize + shingle + hash over the
    corpus. The probe aggregates hashed shingles (what both
    expansion paths join on) rather than raw strings; postings/Σdf²
    are identical up to the pipeline's documented ~2^-64 xxhash64
    collision rate, and they only steer the route/block count.
    """
    shingled = df.select(
        F.col(id_col).alias("id"),
        *([F.col(block_col).alias("block")] if block_col else []),
        F.transform(
            word_shingles(F.col(text_col), n), lambda s: F.xxhash64(s)
        ).alias("sh"),
    ).where(F.size("sh") > 0).localCheckpoint(eager=False)
    row = (
        shingled.select(F.explode("sh").alias("s"))
        .groupBy("s").count()
        .agg(
            F.sum("count").alias("postings"),
            F.sum(F.col("count") * F.col("count")).alias("df2"),
        ).collect()[0]
    )
    postings = int(row["postings"] or 0)
    df2 = int(row["df2"] or 0)
    if postings <= postings_cap:
        # block count sized from the MEASURED workload (r14
        # optimization round): memory wants >= postings / 4M blocks;
        # compute wants the per-block-pair expansion (~df2 / blocks²)
        # under ~4M emissions so the Σdf² work spreads across tasks.
        # Small corpora ride the single-block fast lane.
        n_blocks = _blocked_n_blocks(postings, df2)
        return ngram_jaccard_pairs_blocked(
            df, threshold, n=n, block_col=block_col,
            text_col=text_col, id_col=id_col, n_blocks=n_blocks,
            _shingled=shingled,
        )
    return ngram_jaccard_pairs_inverted(
        df, threshold, n=n, block_col=block_col,
        text_col=text_col, id_col=id_col, max_df=max_df,
        _shingled=shingled,
    )


# --------------------------------------------------------- MinHash LSH

# Mersenne prime 2^31-1 for affine rehashing of the base hash: keeps
# h * a < 2^62 so the modular multiply never overflows BIGINT under
# ANSI mode. 31-bit minhash space adds negligible collision noise.
_P = (1 << 31) - 1


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """Array of ``num_hashes`` min-hash values.

    One xxhash64 per shingle, then ``num_hashes`` affine maps
    ``(a_i * h + b_i) mod p`` — constants derived from xxhash64 of the
    hash index so the whole pipeline is seed-stable.
    """
    base = F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_P)))
    mins = []
    for i in range(num_hashes):
        a = _stable_const(2 * i) | 1  # odd multiplier
        b = _stable_const(2 * i + 1)
        mins.append(
            F.array_min(
                F.transform(
                    base, lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_P))
                )
            )
        )
    return F.array(*mins)


def _stable_const(i: int) -> int:
    """Deterministic 31-bit constant for hash family member i."""
    x = ((i + 1) * 0x9E3779B97F4A7C15) & ((1 << 64) - 1)
    return (x ^ (x >> 31)) % _P


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact
    Jaccard (so output ⊆ true pairs; banding controls recall:
    16 bands × 2 rows catches J>=0.8 pairs with P ~ 1-(1-J^2)^16).

    Shuffle profile: explode to ``bands`` rows per doc, equi-join on
    (band, hash) — linear shuffle; a hot bucket (boilerplate text) is
    the skew risk, mitigated by AQE skew-join at runtime.

    Plan shape, tuned for scale: signatures come from one
    shingle-explode + groupBy(id) with ``num_hashes`` ``min``
    aggregates (partial agg map-side, whole-stage codegen — no
    nested higher-order functions); band rows carry only
    (id, band, bucket) so the candidate join shuffles ~24 bytes per
    banded row instead of the full shingle arrays; shingles are
    re-joined afterwards only for the surviving candidate pairs.
    """
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}): "
            "leftover hashes would be silently dropped, and "
            "bands > num_hashes would give every band an empty "
            "signature — all documents collide into one bucket and "
            "the candidate join degenerates to a quadratic cross-join"
        )
    rows = num_hashes // bands
    # materialized ONCE: three consumers (signature derivation and
    # both sides of the candidate-verify join) would otherwise each
    # re-execute the shingling pipeline
    shingled = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            word_shingles(F.col(text_col), n), lambda s: F.xxhash64(s)
        ).alias("sh"),
    ).where(F.size("sh") > 0).localCheckpoint(eager=True)

    # min over shingles of (a_i * pmod(xxhash64(s), P) + b_i) mod P —
    # identical values to minhash_signature, but as codegen'd aggs
    base = shingled.select(
        "id", F.explode("sh").alias("hs")
    ).select("id", F.pmod(F.col("hs"), F.lit(_P)).alias("h"))
    mins = []
    for i in range(num_hashes):
        a_i = _stable_const(2 * i) | 1
        b_i = _stable_const(2 * i + 1)
        mins.append(
            F.min(
                F.pmod(F.col("h") * F.lit(a_i) + F.lit(b_i), F.lit(_P))
            ).alias(f"m{i}")
        )
    sig = base.groupBy("id").agg(*mins)

    band_structs = [
        F.struct(
            F.lit(bnd).alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{bnd * rows + j}").cast("string")
                        for j in range(rows)
                    ],
                )
            ).alias("bucket"),
        )
        for bnd in range(bands)
    ]
    # materialized ONCE (r14 optimization round): the candidate
    # self-join references banded on BOTH sides, and without this
    # the whole signature derivation (shingle explode + num_hashes
    # min-aggregates + band explode) executes twice. Banded rows are
    # three longs per (doc, band) — strictly smaller than what the
    # candidate join itself shuffles.
    banded = sig.select(
        "id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("id", "bb.band", "bb.bucket").localCheckpoint(eager=False)

    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # verify-join shape, adjudicated in the r15 optimization round:
    # the tempting "probe the shingle table once" melt (explode each
    # candidate pair to two (pair, id) rows, join shingles on id,
    # re-group by pair) is SLOWER — candidates are result-bounded and
    # broadcast, so this double join never shuffles the shingle
    # table at all (two broadcast-hash probes streaming the stored
    # checkpoint map-side), while the melt traded one of those scans
    # for a pair-keyed exchange + object-hash aggregate carrying the
    # shingle arrays (measured 3.50 -> 4.15 s at sf0.1; reverted).
    sh_a = shingled.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a")
    )
    sh_b = shingled.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b")
    )
    return (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )


# ----------------------------------------------- cluster resolution


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    method: str = "propagate",
) -> DataFrame:
    """(node, component) for the undirected graph given by ``edges``
    — the cluster-resolution step that turns near-dup PAIRS into
    dedup decisions (pairs alone can't drop documents: duplicates
    form transitive clusters). ``component`` is the minimum node id
    in the component, so ``node == component`` marks the survivor.

    Algorithm: iterative min-label propagation — each round every
    node takes the minimum label among itself and its neighbors;
    converges within the graph diameter, which for near-dup clusters
    (small, dense components) is a handful of rounds. Each round is
    one join + one aggregation on the edge list (linear shuffle);
    lineage is truncated with ``localCheckpoint`` so plans don't
    nest per round. The dedup workload's components are shallow by
    construction, so diameter-bounded propagation is the cheap
    default; ``method='star'`` switches to the O(log n)-round
    large-star/small-star variant
    (:func:`connected_components_star`) for graphs with long chains.
    """
    if method == "star":
        return connected_components_star(
            edges, src=src, dst=dst, max_rounds=max_iter
        )
    if method != "propagate":
        raise ValueError(f"unknown method {method!r}")
    # materialize the edge list ONCE before mirroring: the union
    # below references it twice, and without this the (often
    # expensive) upstream pair-mining pipeline would execute twice
    edges = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=True)
    sym = (
        edges.union(edges.select(F.col("b"), F.col("a")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    check_every = 3
    for i in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nlabel", "label")
            ).alias("label"),
            # labels only ever decrease: a strict decrease marks
            # non-convergence, checked by a cheap scan of the
            # checkpointed result instead of a join with the old
            # labels
            (F.col("nlabel") < F.col("label")).alias("_changed"),
        )
        # materialize + convergence-check only every few rounds: the
        # per-round wall cost is dominated by job overhead, not the
        # (tiny) label join — chaining rounds lazily amortizes it.
        # Stability is monotone, so checking round 3k is sound (at
        # most two redundant rounds run after convergence).
        if (i + 1) % check_every == 0 or i == max_iter - 1:
            stepped = stepped.localCheckpoint(eager=True)
            changed = stepped.where(F.col("_changed")).count()
            labels = stepped.drop("_changed")
            if changed == 0:
                break
        else:
            labels = stepped.drop("_changed")
    else:
        # loop exhausted without the break: labels were still moving
        # at the last checked round. Returning them silently would
        # emit SPLIT clusters (one true component labeled as several)
        # with no signal — fail loudly instead; callers with genuine
        # long-chain graphs should raise max_iter or use
        # connected_components_star (O(log n) rounds).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"rounds ({changed} labels still changing); the graph's "
            "diameter exceeds max_iter — raise max_iter or use "
            "connected_components_star"
        )
    return labels.select("node", F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 40,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star —
    the O(log n)-round MapReduce connected-components algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Round count is logarithmic in the LARGEST component
    size, independent of graph diameter — the right shape for
    long-chain graphs where min-label propagation
    (:func:`connected_components`) would need diameter rounds.

    Each round is two groupBy-min aggregations and two joins over the
    current edge list (linear shuffle, no neighbor lists
    materialized):

    - **large-star**: every node ``v`` strictly larger than a
      neighbor ``u`` re-attaches to the minimum of ``u``'s
      neighborhood (including ``u``).
    - **small-star**: with edges oriented high→low, every node's
      smaller neighbors (and the node itself) re-attach to the
      neighborhood minimum.

    The fixed point is a star forest oriented (child, root=component
    min); convergence is detected by edge-set equality (both sets are
    distinct, so equal counts + empty one-sided ``exceptAll`` is set
    equality).
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_e = e.count()
    for _ in range(max_rounds):
        if n_e == 0:
            break
        sym = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        ls = (
            sym.join(lmins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # ls is oriented u > v (v is a neighborhood min < u)
        smins = ls.groupBy("u").agg(F.min("v").alias("m"))
        joined = ls.join(smins, "u")
        new_e = (
            joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_new = new_e.count()
        if n_new == n_e and new_e.exceptAll(e).isEmpty():
            e = new_e
            break
        e, n_e = new_e, n_new
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in "
            f"{max_rounds} rounds — raise max_rounds"
        )
    # star forest: child -> root; roots/isolated nodes map to self
    return nodes.join(
        e.select(F.col("u").alias("node"), F.col("v").alias("root")),
        "node",
        "left",
    ).select(
        "node", F.coalesce("root", "node").alias("component")
    )


# ------------------------------------------------------------- SimHash


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash of a token array: per-bit majority vote of the
    xxhash64 of each distinct token, folded into a BIGINT."""
    hashes = F.transform(F.array_distinct(tokens), lambda t: F.xxhash64(t))
    # votes[i] = sum over tokens of (bit_i ? 1 : -1); bit positions are
    # static, so the per-bit extraction unrolls in Python (shift
    # amounts must be ints in PySpark)
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
                    ).otherwise(-1)
                    for i in range(64)
                ]
            ),
            lambda x, y: x + y,
        ),
    )
    # fold sign bits into one BIGINT (bit 63 is the sign bit: use the
    # negative two's-complement literal)
    signed_bits = [
        F.when(
            F.element_at(votes, i + 1) > 0,
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        for i in range(64)
    ]
    return F.aggregate(
        F.array(*signed_bits),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc.bitwiseXOR(x),
    )


#: token -> 60-bit hash from the md5 hex prefix. Same family on both
#: engines: DuckDB computes the identical value via
#: ``CAST(concat('0x', substr(md5(t),1,15)) AS BIGINT)``, which is what
#: makes the SimHash query oracle-checkable (xxhash64 has no DuckDB
#: counterpart). 60 bits also sidesteps BIGINT sign-bit handling.
def _md5_60(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


_HASHERS = {"xxhash64": (F.xxhash64, 64), "md5_60": (_md5_60, 60)}


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "xxhash64",
) -> DataFrame:
    """(id, sig) SimHash per document, computed the scalable way.

    Semantics are identical to :func:`simhash64` (same votes, same
    bit-fold) but the plan is explode -> hash -> groupBy(id) with
    one ``sum`` aggregate per bit: everything stays inside whole-stage
    codegen, partial aggregation runs map-side, and the shuffle
    carries only one long per bit per document — independent of text
    size. The HOF formulation in :func:`simhash64` builds a 64-wide
    array per token inside nested lambdas, which breaks codegen and
    is ~100x slower; keep it for column-level composition on small
    inputs only.

    ``hasher``: ``xxhash64`` (64-bit, fastest, JVM-only) or ``md5_60``
    (60-bit md5 prefix, reproducible in DuckDB for differential
    checks).
    """
    hash_fn, bits = _HASHERS[hasher]
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    )
    hashed = toks.select("id", hash_fn(F.col("tok")).alias("h"))
    # votes as PACKED POPCOUNTS (r14 optimization round): the naive
    # form is one sum aggregate per bit — a 60-wide HashAggregate
    # whose generated code alone costs ~2s to compile per call. Two
    # 32-bit per-bit counters pack into each 64-bit sum (exact: both
    # fields are non-negative counts bounded by the doc's distinct
    # tokens, so the low field can never carry into the high one),
    # halving the aggregate width; the majority vote is recovered as
    # ``2*popcount_i > n_tokens`` — identical to ``sum(±1) > 0``.
    half = (bits + 1) // 2
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(half):
        j = i + half
        packed = F.shiftright("h", i).bitwiseAND(F.lit(1))
        if j < bits:
            packed = packed + F.shiftleft(
                F.shiftright("h", j).bitwiseAND(F.lit(1)), 32
            )
        aggs.append(F.sum(packed).alias(f"p{i}"))
    votes = hashed.groupBy("id").agg(*aggs)
    mask32 = F.lit((1 << 32) - 1)

    def pop(i: int) -> Column:
        if i < half:
            return F.col(f"p{i}").bitwiseAND(mask32)
        return F.shiftrightunsigned(F.col(f"p{i - half}"), 32)

    sig = F.lit(0).cast("bigint")
    for i in range(bits):
        bit = F.when(
            pop(i) * 2 > F.col("n"),
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        sig = sig.bitwiseOR(bit)
    return votes.select("id", sig.alias("sig"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "xxhash64",
) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` of SimHash —
    signature derivation (:func:`simhash_signatures`) composed with
    the generic pigeonhole band join (:func:`hamming_pairs`)."""
    sh = simhash_signatures(
        df, text_col=text_col, id_col=id_col, hasher=hasher
    )
    return hamming_pairs(
        sh, max_hamming=max_hamming, bits=_HASHERS[hasher][1]
    )


def hamming_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    id_col: str = "id",
    sig_col: str = "sig",
) -> DataFrame:
    """All pairs (id_a < id_b, hamming) within Hamming distance
    ``max_hamming`` over a BIGINT signature column — the shared
    bucketed candidate machinery behind SimHash text dedup and
    perceptual media dedup (any fixed-width binary sketch).

    Pigeonhole blocking: the signature splits into ``max_hamming + 1``
    chunks; any pair at distance <= d agrees on at
    least one chunk, so candidates come from an equi-join on
    (chunk_idx, chunk_value) — linear shuffle, exact verification via
    bit_count(xor). Never all-pairs.

    Two plan-shape choices that matter at scale:

    - signatures are materialized ONCE (``localCheckpoint``) before
      the self-join — otherwise the (often expensive) upstream
      signature pipeline executes twice, once per join side.
    - pair uniqueness is a FILTER, not a shuffle: a pair agreeing on
      several chunks would surface once per agreeing chunk, so we
      keep only the row whose chunk_idx is the pair's FIRST agreeing
      chunk (all lower chunks differ — checked with bit-ops on the
      xor of the two signatures already in the row). That replaces a
      ``dropDuplicates`` over the full candidate set (~candidate-
      cardinality shuffle) with a codegen'd predicate.
    """
    n_chunks = max_hamming + 1
    width = bits // n_chunks
    sh = sigs.select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("sig")
    ).localCheckpoint(eager=True)
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk_idx"),
            F.shiftrightunsigned(F.col("sig"), c * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("chunk_val"),
        )
        for c in range(n_chunks)
    ]
    chunks = sh.select(
        "id", "sig", F.explode(F.array(*chunk_structs)).alias("ch")
    ).select("id", "sig", "ch.chunk_idx", "ch.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    xor = F.col("a.sig").bitwiseXOR(F.col("b.sig"))
    mask = F.lit((1 << width) - 1)

    def chunk_differs(j: int) -> Column:
        return F.shiftrightunsigned(xor, j * width).bitwiseAND(mask) != 0

    first_match = F.lit(True)
    for j in range(n_chunks - 1):
        first_match = first_match & (
            (F.col("a.chunk_idx") <= j) | chunk_differs(j)
        )
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id"))
            & first_match,
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


# ------------------------------------- exact substring dedup (rewrite)


def _span_tokens(df: DataFrame, text_col: str, id_col: str,
                 checkpoint: bool = False):
    """Shared tokenization for the span-rewrite family: (docs with
    token array ``t``, exploded (doc_id, pos, tok) rows).

    ``checkpoint=True`` stores the tokenized frame once (lazy local
    checkpoint) — the rewrite pipelines read it three times (token
    rows, k-gram postings, and the keep-every-doc output join), and
    without it each reference re-runs scan + split + filter over the
    corpus (r15 optimization round)."""
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
        .alias("t"),
    )
    if checkpoint:
        docs = docs.localCheckpoint(eager=False)
    tok_rows = docs.select(
        "doc_id", F.posexplode("t").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    return docs, tok_rows


def _span_grams(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, start, g) — one xxhash64'd k-gram per start position;
    slice() runs on the materialized array attribute, so each gram
    costs O(k) token copies (the irreducible shingling cost)."""
    m = F.size("t") - (k - 1)
    return (
        docs.where(F.size("t") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), m),
                    lambda i: F.xxhash64(
                        F.array_join(F.slice("t", i, k), " ")
                    ),
                )
            ).alias("pos0", "g"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("start"), "g")
    )


def _span_rewrite(all_docs: DataFrame, tok_rows: DataFrame,
                  dups: DataFrame) -> DataFrame:
    """Coverage + rewrite accounting shared by the span-dedup family:
    ``dups`` carries (doc_id, pos=span start, cover_end); a per-doc
    running-max window turns span coverage into one linear pass, and
    each doc emits kept/removed counts plus the md5 fingerprint of
    its surviving text in document order. ``all_docs`` supplies the
    keep-every-doc id list — callers pass the (checkpointed)
    tokenized frame so the raw corpus pipeline is not re-run just to
    enumerate ids (r15)."""
    from pyspark.sql import Window

    run_end = F.max("cover_end").over(
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cov = (
        tok_rows.join(dups, ["doc_id", "pos"], "left")
        .withColumn("run_end", run_end)
        .withColumn(
            "kept",
            F.col("run_end").isNull() | (F.col("run_end") < F.col("pos")),
        )
    )
    kept_struct = F.when(F.col("kept"), F.struct("pos", "tok"))
    agg = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.col("kept").cast("int")).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("kept_text"),
    )
    return all_docs.select("doc_id").join(
        agg, "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce(F.col("n_tokens") - F.col("n_kept"), F.lit(0))
        .alias("n_removed"),
        F.md5(F.coalesce("kept_text", F.lit(""))).alias("kept_fingerprint"),
    )


def duplicate_span_rewrite(
    df: DataFrame,
    min_len: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring dedup applied as a corpus REWRITE — the Lee et
    al. ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499) suffix-array regime, re-expressed as two linear
    shuffles: any token span of >= ``min_len`` tokens that occurs
    more than once in the corpus (at ANY position, within or across
    documents) keeps only its globally first occurrence (minimum
    (doc_id, start)); every later occurrence is cut from its
    document.

    Equivalence to span semantics: a duplicated span of length
    L >= k (k = ``min_len``) contains exactly L - k + 1 duplicated
    k-grams whose occurrences cover precisely the span's tokens, and
    conversely every duplicated k-gram IS a duplicated span of
    length k — so "tokens covered by a non-first duplicated k-gram
    occurrence" equals "tokens inside a non-first maximal duplicate
    span". Overlapping/adjacent duplicate k-grams merge into maximal
    spans for free through token coverage; no pairwise span
    extension step exists at all.

    Plan (two shuffles, both linear — never suffix arrays, never
    pairwise):

    1. k-gram occurrences ``(doc, start, xxhash64(gram))`` from one
       posexplode; a window ``min(struct(doc, start)) over
       (partition by gram)`` marks every non-first occurrence. One
       shuffle keyed by the gram hash, state bounded by distinct
       k-grams — the dedup_exact key class.
    2. coverage: duplicate starts left-join onto the token rows at
       ``pos == start`` and a per-document running
       ``max(start + k - 1)`` window turns O(k)-wide span coverage
       into one linear pass (a token is removed iff the running
       cover-end reaches it). One shuffle keyed by doc — the natural
       document grain; per-doc state is one bigint.

    Returns one row per input document: ``(doc_id, n_tokens,
    n_kept, n_removed, kept_fingerprint)`` with the fingerprint =
    md5 of the space-joined surviving tokens in document order
    (empty-string hash when everything was cut) — same rewrite
    accounting contract as the line-grain ``dedup_lines`` query.
    Documents shorter than ``min_len`` tokens carry no k-gram and
    are kept whole by construction.
    """
    from pyspark.sql import Window

    k = int(min_len)
    if k < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    docs, tok_rows = _span_tokens(df, text_col, id_col, checkpoint=True)
    grams = _span_grams(docs, k)
    first = F.min(F.struct("doc_id", "start")).over(
        Window.partitionBy("g")
    )
    dups = (
        grams.withColumn("first", first)
        .where(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("start") != F.col("first.start"))
        )
        .select("doc_id", F.col("start").alias("pos"),
                (F.col("start") + F.lit(k - 1)).alias("cover_end"))
    )
    return _span_rewrite(docs, tok_rows, dups)


def decontaminate_spans(
    train: DataFrame,
    benchmark: DataFrame,
    min_len: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark DECONTAMINATION as a corpus rewrite — the
    cross-corpus sibling of :func:`duplicate_span_rewrite` (Lee et
    al. arXiv:2107.06499 §decontamination; the step every production
    pretraining pipeline runs before training): any token span of
    >= ``min_len`` tokens that a training document shares with ANY
    benchmark document, at any position in either, is cut from the
    TRAINING document. Benchmark text is never modified (it is the
    protected side); training-internal duplicates are NOT touched —
    that is :func:`duplicate_span_rewrite`'s job, and conflating the
    two would hide what decontamination alone removed.

    Same two-shuffle linear plan as the within-corpus rewrite, with
    the first-occurrence window replaced by a LEFT SEMI join of the
    training k-gram postings against the (distinct) benchmark k-gram
    set — cheaper than the window (no per-gram state beyond the
    hash), and at 100 TB the benchmark side is tiny and broadcasts.

    Returns the per-TRAINING-document rewrite accounting
    ``(doc_id, n_tokens, n_kept, n_removed, kept_fingerprint)``.
    """
    k = int(min_len)
    if k < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    t_docs, tok_rows = _span_tokens(train, text_col, id_col,
                                    checkpoint=True)
    b_docs, _ = _span_tokens(benchmark, text_col, id_col)
    bench_grams = _span_grams(b_docs, k).select("g").distinct()
    dups = (
        _span_grams(t_docs, k)
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id", F.col("start").alias("pos"),
                (F.col("start") + F.lit(k - 1)).alias("cover_end"))
    )
    return _span_rewrite(t_docs, tok_rows, dups)


# ------------------------------------------- incremental (cross-batch)


def incremental_exact_mark(
    corpus_fps: DataFrame,
    batch: DataFrame,
    fp_col: str = "fp",
    fpp: float = 0.01,
) -> DataFrame:
    """Mark each row of a NEW ingest batch as duplicate-of-corpus or
    genuinely new, without ever shuffling the corpus.

    The continuous-ingestion dedup shape: at 100 TB the corpus's
    fingerprint set cannot be joined against every incoming batch at
    shuffle cost, so membership is tested in two tiers —

    1. a Bloom filter over the corpus fingerprints, built
       distributedly (each corpus partition folds its xxhash64'd
       fingerprints into a local bitset with numpy, the driver ORs
       the per-partition bitsets) and broadcast to the batch. Rows
       the filter rejects are DEFINITELY new (Bloom has no false
       negatives) and skip the join entirely;
    2. the surviving candidates — true duplicates plus ~fpp of the
       batch — broadcast back against the corpus for exact
       verification, so the corpus is scanned but never shuffled,
       and the join's build side is the (small) candidate set.

    Returns ``batch`` plus ``bloom_candidate`` (tier-1 verdict) and
    ``is_dup`` (tier-2 exact verdict). ``is_dup -> bloom_candidate``
    always holds; the gap between them is the filter's false-positive
    rate. The bitset is sized from the corpus count at ``fpp``
    (~1.2 KB per 1k fingerprints at 1%), far below broadcast limits
    even at 10^10 documents with a sharded filter; this single-bitset
    implementation is the one-broadcast variant.
    """
    import numpy as np

    from hands_on_trino_iceberg_superset_spark.bloom import (
        bloom_params,
        fold_hashes,
        probe_hashes,
    )

    m, k = bloom_params(corpus_fps.count(), fpp)
    spark = corpus_fps.sparkSession

    hashed = corpus_fps.select(F.xxhash64(fp_col).alias("h"))

    def fold_partition(batches):
        bits = np.zeros(m // 64, dtype=np.uint64)
        for pdf in batches:
            fold_hashes(bits, pdf["h"].to_numpy(dtype=np.int64), m, k)
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    merged = np.zeros(m // 64, dtype=np.uint64)
    for row in hashed.mapInPandas(fold_partition, "bits binary").collect():
        merged |= np.frombuffer(row.bits, dtype=np.uint64)
    bc = spark.sparkContext.broadcast(merged.tobytes())

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def maybe_in_corpus(h: pd.Series) -> pd.Series:
        bits = np.frombuffer(bc.value, dtype=np.uint64)
        return pd.Series(
            probe_hashes(bits, h.to_numpy(dtype=np.int64), m, k)
        )

    marked = batch.withColumn(
        "bloom_candidate", maybe_in_corpus(F.xxhash64(fp_col))
    )
    cand_fps = (
        marked.where(F.col("bloom_candidate"))
        .select(F.col(fp_col).alias("_cand_fp")).distinct()
    )
    # corpus-side scan with the small candidate set broadcast as the
    # build side: the big relation never shuffles
    dup_fps = (
        corpus_fps.join(
            F.broadcast(cand_fps),
            F.col(fp_col) == F.col("_cand_fp"), "leftsemi",
        )
        .select(F.col(fp_col).alias("_dup_fp")).distinct()
        .withColumn("_is_dup", F.lit(True))
    )
    return (
        marked.join(
            F.broadcast(dup_fps),
            F.col(fp_col) == F.col("_dup_fp"), "left",
        )
        .withColumn("is_dup", F.coalesce(F.col("_is_dup"), F.lit(False)))
        .drop("_dup_fp", "_is_dup")
    )
