"""Round-11 operators: semantic checks beyond the DuckDB oracle hash."""

import hashlib
import re
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from npc_recommender_netflix_spark import registry
from tests.conftest import SF_SMALL, forget


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_cdc_chunking_matches_pure_python(spark):
    """t_cdc_chunking's whole pipeline — rolling 4-token cut rule, chunk
    assembly, digest census, top-10 — replayed in pure Python over the
    same corpus must produce the identical result set."""
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    }
    chunk_digests = []  # (digest, doc_id, n_tok, n_char)
    for doc_id, text in docs.items():
        words = re.split(r"\s+", text.lower())
        chunks, cur = [], []
        for p, w in enumerate(words, start=1):
            cur.append(w)
            if p >= 4 and _md5("|".join(words[p - 4: p]))[0] == "0":
                chunks.append(cur)
                cur = []
        if cur:
            chunks.append(cur)
        for c in chunks:
            t = " ".join(c)
            chunk_digests.append((_md5(t), doc_id, len(c), len(t)))
    by_digest = defaultdict(list)
    for d, doc, ntok, nchar in chunk_digests:
        by_digest[d].append((doc, ntok, nchar))
    census = [
        (
            d,
            len(v),
            len({doc for doc, _t, _c in v}),
            max(t for _d2, t, _c in v),
            (len(v) - 1) * max(c for _d2, _t, c in v),
        )
        for d, v in by_digest.items()
        if len(v) >= 2
    ]
    census.sort(key=lambda r: (-r[1], r[0]))
    expected = census[:10]

    got = [
        (r["digest"], r["n_copies"], r["n_docs"], r["chunk_tokens"],
         r["saved_chars"])
        for r in registry.QUERIES["t_cdc_chunking"](spark, SF_SMALL).collect()
    ]
    assert got == expected


def test_cdc_boundaries_resynchronize_after_edit(spark):
    """The CDC property fixed-stride tiling lacks: insert ONE token at the
    front of a document and all chunk boundaries AFTER the rolling window
    passes the edit are unchanged — most chunks still dedupe against the
    original. (With 40-token fixed tiles, a 1-token shift misaligns every
    tile.)"""
    words = [f"tok{i}" for i in range(400)]

    def chunks_of(ws):
        out, cur = [], []
        for p, w in enumerate(ws, start=1):
            cur.append(w)
            if p >= 4 and _md5("|".join(ws[p - 4: p]))[0] == "0":
                out.append(" ".join(cur))
                cur = []
        if cur:
            out.append(" ".join(cur))
        return out

    base = set(chunks_of(words))
    edited = chunks_of(["inserted"] + words)
    shared = sum(1 for c in edited if c in base)
    assert shared >= len(edited) - 3, (
        "an edit must only disturb the chunks overlapping the edit window"
    )


def test_swing_capped_matches_pure_python(spark):
    """r_swing_capped replayed in pure Python (same caps, same 1e12 term
    snapping, same tiebreaks) over the sf0.001 ratings matrix."""
    from npc_recommender_netflix_spark.recommender.core import ratings_matrix

    ui = {
        (r["user_id"], r["item_id"])
        for r in ratings_matrix(spark, SF_SMALL, max_item=200)
        .select("user_id", "item_id")
        .distinct()
        .collect()
    }
    items_of = defaultdict(set)
    for u, i in ui:
        items_of[u].add(i)
    active = {u for u, its in items_of.items() if len(its) <= 32}
    raters = defaultdict(list)
    for u, i in sorted(ui):
        if u in active:
            raters[i].append(u)
    capped = {(u, i) for i, us in raters.items() for u in sorted(us)[:40]}
    items_c = defaultdict(set)
    for u, i in capped:
        items_c[u].add(i)
    users = sorted(items_c)
    s12 = Counter()
    npairs = Counter()
    for ai, u in enumerate(users):
        for v in users[ai + 1:]:
            common = sorted(items_c[u] & items_c[v])
            c = len(common)
            if c < 2:
                continue
            term = round(1e12 / (1 + c))
            for x in range(c):
                for y in range(x + 1, c):
                    s12[(common[x], common[y])] += term
                    npairs[(common[x], common[y])] += 1
    scored = [
        (round(s / 1e12, 6), i, j, npairs[(i, j)])
        for (i, j), s in s12.items()
    ]
    scored.sort(key=lambda r: (-r[0], r[1], r[2]))
    expected = [(i, j, sw, n) for sw, i, j, n in scored[:20]]

    got = [
        (r["item_a"], r["item_b"], r["swing"], r["n_user_pairs"])
        for r in registry.QUERIES["r_swing_capped"](spark, SF_SMALL).collect()
    ]
    assert got == expected
    spark.catalog.clearCache()


def test_swing_downweights_heavy_overlap_pairs(spark):
    """Swing's defining property: a co-rating by a user pair with LARGE
    overall overlap contributes less than one by a low-overlap pair —
    every output score must be <= n_user_pairs * 1/(1+2) (c_uv >= 2
    whenever the pair contributes to any item pair) and > 0."""
    rows = registry.QUERIES["r_swing_capped"](spark, SF_SMALL).collect()
    assert rows, "fixture produced no swing pairs"
    for r in rows:
        assert 0 < r["swing"] <= r["n_user_pairs"] / 3.0 + 1e-9
    spark.catalog.clearCache()


def test_longest_dup_ngram_matches_pure_python(spark):
    """t_longest_dup_ngram replayed in pure Python: same window digests
    (L in 8/16/32), same >=2 corpus-wide dup rule, same per-doc max and
    4-class census."""
    docs = {
        r["doc_id"]: re.split(r"\s+", r["text"].lower())
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    }
    wins = defaultdict(list)  # (L, digest) -> [doc_id, ...]
    for doc_id, t in docs.items():
        for L in (8, 16, 32):
            for i in range(L, len(t) + 1):
                wins[(L, _md5(" ".join(t[i - L: i])))].append(doc_id)
    perdoc = defaultdict(int)
    for (L, _d), ds in wins.items():
        if len(ds) >= 2:
            for doc in ds:
                perdoc[doc] = max(perdoc[doc], L)
    census = Counter(perdoc.get(d, 0) for d in docs)
    n = len(docs)
    expected = sorted(
        (k, c, round(c * 1.0 / n, 6)) for k, c in census.items()
    )
    got = [
        (r["max_dup_len"], r["n_docs"], r["share"])
        for r in registry.QUERIES["t_longest_dup_ngram"](
            spark, SF_SMALL
        ).collect()
    ]
    assert got == expected
    spark.catalog.clearCache()


def test_shared_caches_reregister_after_clearcache(spark):
    """Measured round-11 Spark fact: spark.catalog.clearCache() removes a
    cached DataFrame's registration PERMANENTLY — it never re-caches on
    its own. _qcos_012 must re-register on the next handout (its frame
    costs ~2 s and greedy hop loops consume it ~10x per key), while
    core._cached deliberately must NOT (round-12 bisect: its frames are
    ~0.3 s rebuilds with 1-3 consumers, and the round-11 re-registration
    made every post-clearCache bench key pay an unamortized cache-write —
    the r_predict/r_adamic_adar regressions the round-11 verdict
    flagged)."""
    from npc_recommender_netflix_spark.llm.vectors import _qcos_012
    from npc_recommender_netflix_spark.recommender.core import (
        _cached,
        ratings_matrix,
    )

    # Fresh memo state: an earlier test's clearCache leaves memoized
    # frames unregistered, and core._cached deliberately does NOT
    # re-register them (the round-12 policy below) — so the "cached on
    # first build" phase only holds if this test builds first.
    forget("matrix", "cosine_sims", "qcos_012")

    q = _qcos_012(spark, SF_SMALL)
    q.count()
    # the memoized (_cached) matrix; a max_item slice is a filter over it
    m = ratings_matrix(spark, SF_SMALL)
    m.count()
    assert q.storageLevel.useMemory and m.storageLevel.useMemory

    spark.catalog.clearCache()
    assert not q.storageLevel.useMemory  # the fact this test documents
    assert not m.storageLevel.useMemory

    q2 = _qcos_012(spark, SF_SMALL)
    m2 = ratings_matrix(spark, SF_SMALL)
    assert q2.storageLevel.useMemory, "_qcos_012 must re-register"
    assert not m2.storageLevel.useMemory, (
        "_cached must NOT re-register (round-12: unamortized cache-write)"
    )
    assert m2 is m, "_cached must still memoize the same frame"
    assert _cached is not None  # imported for the docstring's claim
    spark.catalog.clearCache()


def test_time_travel_v0_read_is_append_invariant(spark):
    """s_time_travel's version-0 read must equal the direct pre-append
    aggregate even though version 1 (the appended table) exists — the
    append-only manifest invariant that makes VERSION AS OF possible."""
    rows = {
        r["version"]: (r["n_rows"], r["total_cents"])
        for r in registry.QUERIES["s_time_travel"](spark, SF_SMALL).collect()
    }
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    base = orders.where(F.year("o_orderdate") <= 1996).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c"),
    ).collect()[0]
    full = orders.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c"),
    ).collect()[0]
    assert rows[0] == (base["n"], base["c"])
    assert rows[1] == (full["n"], full["c"])
    assert rows[1][0] > rows[0][0], "the append must actually add rows"


def test_pipe_syntax_plan_matches_classic_form(spark):
    """q_pipe_syntax must compile to the SAME answer and the same plan
    family as the classic SELECT: pushed shipdate filter at the scan and
    a partial+final HashAggregate — pipes are parser sugar, not a
    different execution path."""
    df = registry.QUERIES["q_pipe_syntax"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "l_shipdate" in plan
    assert plan.count("HashAggregate") >= 2
    rows = df.collect()
    assert rows and all(r["revenue_cents"] > 0 for r in rows)
    classic = spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS BIGINT) AS revenue_cents,
               round(avg(l_quantity), 6) + 0.0 AS avg_qty
        FROM pipe_lineitem
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1997-01-01'
        GROUP BY l_returnflag
        ORDER BY revenue_cents DESC, l_returnflag
        """
    ).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in classic]


def test_centroid_outliers_matches_numpy(spark):
    """v_centroid_outliers vs a numpy replay: same per-label centroids,
    same own-centroid cosine (6dp snap), same ascending top-20."""
    import numpy as np

    rows = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    by_label = defaultdict(list)
    for r in rows:
        by_label[r["label"]].append(
            (r["vec_id"], np.array(r["embedding"], dtype=np.float64))
        )
    cents = {
        lab: np.mean([v for _i, v in vs], axis=0)
        for lab, vs in by_label.items()
    }
    scored = []
    for lab, vs in by_label.items():
        c = cents[lab]
        cn = np.sqrt((c * c).sum())
        for vid, v in vs:
            cos = round(float((v * c).sum() / (np.sqrt((v * v).sum()) * cn)), 6)
            scored.append((cos, vid, int(lab)))
    scored.sort()
    expected = [(vid, lab, cos) for cos, vid, lab in scored[:20]]

    got = [
        (r["vec_id"], r["label"], r["ccos"])
        for r in registry.QUERIES["v_centroid_outliers"](
            spark, SF_SMALL
        ).collect()
    ]
    assert got == expected
