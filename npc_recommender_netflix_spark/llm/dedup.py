"""§2.9 LLM-data-pipeline: deduplication family.

Exact dedup lives in text.py (t_exact_dedup). Here: the near-dup ladder —
n-gram Jaccard (exact), SimHash (hash sketch), MinHash+LSH (MLlib), and a
rolling-hash document fingerprint. All hashes derive from md5(), which both
Spark and DuckDB implement identically, so even the sketches get exact SQL
oracles (except MinHashLSH whose hash family is MLlib-internal).

Scale story (the whole point of the ladder):
- exact Jaccard is O(pairs-sharing-a-shingle) — fine when shingle-postings
  are short, quadratic blowup on hot shingles. At 100 TB you cap posting
  lists (drop shingles with df > K, they carry no dedup signal).
- SimHash: one 64-bit fingerprint per doc, near-dups = small Hamming
  distance; candidate generation via banded fingerprint prefixes = equi-join.
- MinHash+LSH: band-bucket equi-join, the classic web-dedup design.

Each near-dup stage several keys share has one owner here, and the keys
build on it (tests/test_dedup_owners.py fails when a copy comes back):
- the bigram array: `bigram_array` (also t_winnowing's hashed grams and
  text.py's bigram keys, each with its own pair element),
  with the per-doc distinct set `_bigram_set` under `shingles` and the
  map-side sizes `bigram_sizes`;
- the pipeline front, quality filter + canonical exact dedup:
  `_quality_exact`, with `_quality_sql` / `_DIGEST_FRONT_SQL`; the
  near-dup losers and per-language survivor stats: `_survivor_stats`,
  with `_losers_sql` / `_SURVIVOR_STATS_SQL`;
- the df <= 64 posting cap: `_df_capped` / `_CAPPED_SQL`;
- the posting-pair count and Jaccard filter: `_shares_shingle`,
  `_pair_counts`, `_counts`, `_jaccard_pairs`, with `_sizes_inter_sql`,
  `_jaccard_select_sql` and the components oracle `_CLUSTERS_SQL`;
- MinHash signatures, bands and band candidates: `_minhash_sig`,
  `_minhash_bands`, `_band_candidates`, with `_sig_cols_sql`,
  `_bands_sql`, `_SIG_BANDS_SQL` and `_band_cand_sql`;
- the candidate-driven exact rescore: `_rescore` / `_rescore_sql`;
- idf-weighted lexical hits: `lexical_hits` (also
  v_hybrid_retrieval_overlap in vectors.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..registry import ORACLE as _ORACLE
from ..registry import register
from ..session import f6, load_table, widen_narrow_scan

# --- shared shingle SQL (2-word shingles, distinct per doc) ----------------

# doc_id < 1000 bounds the shingle-posting quadratic blowup at larger sf
# (the 100 TB design prefilters candidates with MinHash/SimHash instead of
# joining full posting lists; the bound keeps the exact variant exact AND
# benchmarkable). Covers the whole corpus at sf<=0.01. The UNBOUNDED scale
# path is t_jaccard_neardup_capped: full corpus, posting lists capped by
# document frequency instead.
SHINGLES_SQL = r"""
    SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS s
    FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
          FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
                FROM documents WHERE doc_id < 1000))
"""

SHINGLES_FULL_SQL = r"""
    SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS s
    FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
          FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
                FROM documents))
"""


def bigram_array(pair: str = "concat(w[i], ' ', w[i + 1])") -> Column:
    """The positional 2-word shingles of the token-array column ``w``,
    in order and with repeats — the one spelling of the bigram transform
    every dedup key (and text.py's bigram keys) builds on. ``pair`` is
    the SQL element built from ``w[i]`` and ``w[i + 1]``; the default is
    the space-joined shingle string.

    A document of fewer than 2 tokens has none, as in the oracles'
    ``range(1, len(w))``: the two-arg sequence(0, -1) would step -1 and
    yield [0, -1], and the w[1] lookup raises INVALID_ARRAY_INDEX under
    ANSI mode."""
    return F.expr(
        "CASE WHEN size(w) >= 2 THEN "
        "transform(sequence(0, size(w) - 2, 1),"
        f" i -> {pair}) "
        "ELSE array() END"
    )


def _words(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.split(F.lower("text"), r"\s+").alias("w"))


def _bigram_set(docs: DataFrame) -> DataFrame:
    """(doc_id, s): each (doc_id, text) row's DISTINCT bigram set.
    Per-doc dedup happens BEFORE the explode with array_distinct (r17
    optimization, guide §2.4): the old explode().distinct() paid a full
    (doc_id, s) Exchange in every consumer for a dedup that is local to
    one document — one row, one array — by construction. Same row set
    (array_distinct keeps one NULL like DISTINCT), zero shuffles."""
    return _words(docs).select(
        "doc_id", F.explode(F.array_distinct(bigram_array())).alias("s")
    )


def shingles(spark, sf_dir, bounded=True, wide=False):
    # bigrams via array transform — map-side only, no self-join shuffle.
    #
    # wide=True (r18, guide §2.6): callers that CACHE this frame inherit
    # the map-side lineage's width = the documents SCAN width, which is 1
    # partition at test scale — so every consumer pass over the cache
    # (salted-md5 signature aggs, posting self-joins) ran single-threaded,
    # serializing 3-4 x ~1 s CPU stages per key. A round-robin repartition
    # of the raw (doc_id, text) rows BEFORE the explode restores
    # cores-scaled width for one tiny docs-sized exchange. Scale-guarded:
    # skipped whenever the scan is already at least that wide (a real
    # cluster scan), so no shuffle is ever ADDED at 100 TB.
    docs = load_table(spark, sf_dir, "documents")
    if bounded:
        docs = docs.where(F.col("doc_id") < 1000)
    if wide:
        docs = widen_narrow_scan(spark, docs)
    return _bigram_set(docs)


def bigram_sizes(docs: DataFrame) -> DataFrame:
    """Per-doc DISTINCT-bigram count (doc_id, n), computed map-side from
    a (doc_id, text) frame (r17 optimization, guide §2.4): replaces
    ``sh.groupBy("doc_id").agg(count(*))`` — which paid a full Exchange
    plus a second explode pass over the shingle lineage — with a scan-local
    size(array_distinct(...)) projection. Values are identical because the
    shingle set is per-doc-distinct by construction; only valid for sizes
    over the UNCAPPED shingle set (a df-capped set must count after the
    cap, which is a real aggregate).

    ``n`` is non-nullable (coalesce to 0; a null-text document has no
    shingles, so it never reaches a pair): a nullable ``n`` lets the
    sizes join infer ``isnotnull(n)`` and push it below this projection
    with ``w`` inlined, re-splitting the text once per bigram in the
    transform's lambda — quadratic in document length."""
    return _words(docs).select(
        "doc_id",
        F.coalesce(F.size(F.array_distinct(bigram_array())), F.lit(0))
        .cast("long").alias("n"),
    )


def _counts(sh: DataFrame) -> DataFrame:
    """(doc_id, n): shingle count per document of a materialized set."""
    return sh.groupBy("doc_id").agg(F.count("*").alias("n"))


def _df_capped(sh0: DataFrame, *keep: str) -> DataFrame:
    """The postings of ``sh0`` whose shingle occurs in at most 64
    documents, with the ``keep`` columns of the df table joined on. A hot
    shingle's join output is quadratic in its document frequency while
    carrying ~zero dedup signal (it's a stopword bigram); the cap bounds
    every shingle's pair fan-out at 64^2 regardless of corpus size."""
    freq = sh0.groupBy("s").agg(F.count("*").alias("df"))
    return sh0.join(freq.where(F.col("df") <= 64).select("s", *keep), "s")


def _shares_shingle() -> Column:
    """Posting-pair predicate over the ``a``/``b`` aliases of a shingle
    frame: same shingle, ordered pair."""
    return (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id"))


def _pair_counts(sh: DataFrame, da: str = "doc_a", db: str = "doc_b") -> DataFrame:
    """(da, db, i): shared-shingle count of every ordered doc pair with at
    least one shingle in common — the posting-list self-join (no O(n²)
    cross join: candidate pairs only exist where a shingle is shared)."""
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, _shares_shingle())
        .groupBy(F.col("a.doc_id").alias(da), F.col("b.doc_id").alias(db))
        .agg(F.count("*").alias("i"))
    )


def _jaccard_pairs(inter: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(da, db, jaccard): the pairs of a _pair_counts frame whose Jaccard
    i / (na + nb - i) over the (doc_id, n) ``sizes`` reaches
    ``threshold``; jaccard is unrounded. Callers that know ``sizes`` is
    bounded pass it broadcast-hinted; an unbounded one (one row per doc
    at corpus scale) goes unhinted so AQE picks broadcast when it
    measures small and SMJ otherwise."""
    da, db, _ = inter.columns
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("i") * 1.0 / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (
        inter.join(sa, F.col(da) == F.col("sa.doc_id"))
        .join(sb, F.col(db) == F.col("sb.doc_id"))
        .where(jac >= threshold)
        .select(da, db, jac.alias("jaccard"))
    )


def _sizes_inter_sql(inter: str, da: str, db: str) -> str:
    """Oracle twin of _counts + _pair_counts over the ``sh`` CTE."""
    return f"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    {inter} AS (SELECT a.doc_id AS {da}, b.doc_id AS {db}, count(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)"""


def _jaccard_select_sql(threshold: float) -> str:
    """Oracle twin of _jaccard_pairs over the ``inter``/``sizes`` CTEs,
    jaccard rounded to 6 places."""
    return f"""SELECT doc_a, doc_b, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a
               JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= {threshold}"""


# oracle twin of _df_capped over the ``sh0`` CTE
_CAPPED_SQL = """freq AS (SELECT s, count(*) AS df FROM sh0 GROUP BY s),
    sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN freq ON freq.s = sh0.s
           WHERE freq.df <= 64)"""


@register(
    "t_jaccard_neardup",
    f"""
    WITH sh AS ({SHINGLES_SQL}),
    {_sizes_inter_sql("inter", "doc_a", "doc_b")}
    {_jaccard_select_sql(0.12)}
    """,
)
def t_jaccard_neardup(spark, sf_dir):
    """Exact n-gram-Jaccard near-dup pairs via shingle equi-join (no O(n²)
    cross join — candidate pairs only exist where a shingle is shared)."""
    sizes = bigram_sizes(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    )
    pairs = _jaccard_pairs(
        _pair_counts(shingles(spark, sf_dir)), F.broadcast(sizes), 0.12
    )
    return pairs.select("doc_a", "doc_b", f6(F.col("jaccard")).alias("jaccard"))


@register(
    "t_jaccard_neardup_capped",
    f"""
    WITH sh0 AS ({SHINGLES_FULL_SQL}),
    {_CAPPED_SQL},
    {_sizes_inter_sql("inter", "doc_a", "doc_b")}
    {_jaccard_select_sql(0.12)}
    """,
)
def t_jaccard_neardup_capped(spark, sf_dir):
    """Unbounded-corpus Jaccard near-dup with df-capped posting lists — the
    100 TB shape of t_jaccard_neardup.

    No doc_id bound: instead, shingles appearing in more than 64 documents
    are dropped before the posting-list self-join (_df_capped), which is
    what makes the equi-join plan survive a 100x scale-up. Jaccard is
    computed over the capped shingle sets on BOTH engines, so the oracle
    is exact.
    """
    # cache the capped postings: they feed THREE consumers (sizes + both
    # self-join sides), and Spark replays the whole shingle-distinct +
    # df-cap-join subtree per consumer without it (round-12: x30 ladder
    # shuffle was 43x input from the replays). The df-join leaves sh
    # hash-partitioned by s, and InMemoryRelation preserves that
    # clustering, so the a<->b self-join below stays exchange-free.
    # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
    # cleared per run): median 1.41 -> 2.11 s without it, IQR 0.16 s.
    sh = _df_capped(shingles(spark, sf_dir, bounded=False)).cache()
    # sizes unhinted: one row per doc, unbounded at corpus scale
    pairs = _jaccard_pairs(_pair_counts(sh), _counts(sh), 0.12)
    return pairs.select("doc_a", "doc_b", f6(F.col("jaccard")).alias("jaccard"))


# --- SimHash: md5-derived, engine-portable ---------------------------------

# token hash = first 8 hex chars of md5 -> uint32, via positional hex math
# (DuckDB has no conv(); both engines share this exact arithmetic).
_DUCK_H32 = """
    CAST(list_sum(list_transform(range(1, 9),
        j -> (strpos('0123456789abcdef', substring(md5(word), j, 1)) - 1)
             * 16 ** (8 - j))) AS BIGINT)
"""


# shared CTE chain: per-doc 16-bit simhash (used by t_simhash and
# t_simhash_pairs oracles)
_DUCK_SIMHASH_CTES = rf"""
    tok AS (SELECT DISTINCT doc_id,
                   unnest(string_split_regex(lower(text), '\s+')) AS word
            FROM documents),
    h AS (SELECT doc_id, {_DUCK_H32} AS h32 FROM tok),
    bits AS (SELECT doc_id, b, CAST(floor(h32 / (2 ** b)) AS BIGINT) % 2 AS bit
             FROM h CROSS JOIN (SELECT unnest(range(0, 16)) AS b)),
    votes AS (SELECT doc_id, b, sum(2 * bit - 1) AS v FROM bits GROUP BY 1, 2),
    sim AS (SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN CAST(2 ** b AS BIGINT) ELSE 0 END)
                        AS BIGINT) AS simhash16
            FROM votes GROUP BY doc_id)
"""


def _simhash_df(spark, sf_dir):
    """Per-document 16-bit SimHash from md5-derived token hashes.

    Same plan shape as t_simhash_pairs' adaptive variant: one explicit
    repartition(doc_id) makes the token dedup AND the vote aggregation
    exchange-free (HashPartitioning(doc_id) satisfies both clusterings),
    and the 16 bit-votes are COLUMNS of a single aggregation instead of
    a 16-way row explode whose partial aggregate emits |docs| rows per
    upstream partition. Values are identical to the pre-round-9 plan
    (the oracle is unchanged)."""
    from functools import reduce as _reduce

    tok = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .repartition("doc_id")
        .dropDuplicates(["doc_id", "word"])
    )
    h = tok.select(
        "doc_id", F.conv(F.substring(F.md5("word"), 1, 8), 16, 10).cast("long").alias("h32")
    )
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"2 * (shiftright(h32, {b}) & 1) - 1")).alias(f"v{b}")
            for b in range(16)
        ]
    )
    fp = _reduce(
        Column.__add__,
        [
            F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            for b in range(16)
        ],
    )
    return votes.select("doc_id", fp.alias("simhash16"))


@register(
    "t_simhash",
    f"""
    WITH {_DUCK_SIMHASH_CTES}
    SELECT doc_id, simhash16 FROM sim
    """,
)
def t_simhash(spark, sf_dir):
    """16-bit SimHash per document from md5-derived token hashes.

    Sketch is exact-oracle-checkable because the hash (md5) is identical in
    both engines. 64-bit at scale; 16 bits keeps the bit fan-out cheap here.
    """
    return _simhash_df(spark, sf_dir)


# 60-bit token hash: first 15 hex chars of md5, summed in exact BIGINT
# arithmetic (16**k is a power of two, exact in double; the CAST before
# the multiply keeps the SUM integer — a double sum loses low bits past
# 2^53). 15 chars (not 16) keeps every value < 2^60, BIGINT-safe.
_DUCK_H60 = """
    CAST(list_sum(list_transform(range(1, 16),
        j -> CAST(strpos('0123456789abcdef', substring(md5(word), j, 1)) - 1
                  AS BIGINT)
             * CAST(16 ** (15 - j) AS BIGINT))) AS BIGINT)
"""

# bits-per-band ~ log2(N), the executable form (round-8 verdict item 4):
# band collision probability is 2^-w, so random-collision candidates are
# ~3*N^2/2^w — w = ceil(log2 N) keeps that O(N) at any corpus size. The
# -1e-9 guards the engines' log2 ulp disagreement at exact powers of two.
_DUCK_SIMHASH_W_SQL = (
    "LEAST(20, GREATEST(4, CAST(CEIL(LOG2(count(*)) - 1e-9) AS INTEGER)))"
)


@register(
    "t_simhash_pairs",
    rf"""
    WITH params AS (SELECT {_DUCK_SIMHASH_W_SQL} AS w FROM documents),
    tok AS (SELECT DISTINCT doc_id,
                   unnest(string_split_regex(lower(text), '\s+')) AS word
            FROM documents),
    h AS (SELECT doc_id, {_DUCK_H60} AS h60 FROM tok),
    bits AS (SELECT doc_id, b, (h60 >> b) & 1 AS bit
             FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS b) r
             CROSS JOIN params WHERE b < 3 * params.w),
    votes AS (SELECT doc_id, b, sum(2 * bit - 1) AS v FROM bits GROUP BY 1, 2),
    sim AS (SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
                                 ELSE 0 END) AS BIGINT) AS fp
            FROM votes GROUP BY doc_id),
    bands AS (SELECT doc_id, fp, t.b AS band,
                     (fp >> (params.w * t.b))
                       & ((CAST(1 AS BIGINT) << params.w) - 1) AS bv
              FROM sim CROSS JOIN (SELECT unnest(range(0, 3)) AS b) t
              CROSS JOIN params),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
                                      AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa.fp, sb.fp)) AS BIGINT) AS hamming
    FROM cand JOIN sim sa ON sa.doc_id = doc_a
              JOIN sim sb ON sb.doc_id = doc_b
    WHERE bit_count(xor(sa.fp, sb.fp)) <= 2
    """,
)
def t_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS with a corpus-adaptive fingerprint:
    3 bands x w sign bits, w = clamp(ceil(log2 N), 4, 20), over a 60-bit
    md5 token hash.

    By pigeonhole any pair at Hamming distance <= 2 agrees on at least one
    of the 3 whole bands, so the band equi-join generates every qualifying
    pair — candidate generation is an equi-join on (band, band_value),
    never an all-pairs cross join; candidates then pay one exact
    bit_count(XOR) Hamming check. The band width is the scale knob made
    EXECUTABLE (round-8 verdict: the fixed 16-bit fingerprint saturated —
    SCALECHECK measured superlinear candidate shuffle because at 5000+
    docs random band collisions dominate): collision probability per band
    is 2^-w, so candidates ~ 3*N^2/2^w, and w = ceil(log2 N) — computed
    IN-PLAN from count(documents) on both engines, cross-joined as a
    1-row params relation — keeps that O(N) at any corpus size. The
    20-bit-per-band ceiling is the 60-bit md5 word (15 hex chars, the
    widest BIGINT-exact slice); production corpora past 2^20 docs take
    the same plan over a 128-bit hash split into two 64-bit words.
    Widening bands costs recall only for weakly-similar pairs — true
    near-dups (per-bit flip prob ~0) still collide with prob ~1 — and
    the oracle mirrors bands AND rescore, so both engines see identical
    pairs. t_simhash (the 16-bit per-doc sketch) is unchanged.
    """
    from functools import reduce as _reduce

    docs = load_table(spark, sf_dir, "documents")
    params = docs.agg(
        F.least(
            F.lit(20),
            F.greatest(F.lit(4), F.ceil(F.log2(F.count(F.lit(1))) - 1e-9)),
        )
        .cast("int")
        .alias("w")
    )
    # Token dedup is local to one document by construction, so run it
    # map-side as array_distinct on the split array BEFORE the explode
    # (the shingles() treatment): no (doc_id, word) dedup exchange at
    # all, and because each doc's tokens stay whole inside its scan
    # partition the votes partial aggregate fully combines per doc
    # map-side — the only token-grain exchange left is |docs| rows of
    # 60 longs into the final vote aggregate (vs repartitioning every
    # token row by doc_id).
    # r18 measured reject: widen_narrow_scan(docs) before this explode
    # (the shingles wide=True treatment) A/B'd a WASH (warm iso min
    # 2.68 -> 2.77 s) — the vote aggregate already combines map-side per
    # doc, so the extra exchange buys no downstream width. Left narrow.
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower("text"), r"\s+"))).alias(
            "word"
        ),
    )
    h = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("long").alias("h60"),
    )
    # All 60 bit-votes as COLUMNS of one aggregation, not a 60-way row
    # explode: a (token x bit) row fan-out overflows map-side combine at
    # corpus scale (measured 1.4 GB votes shuffle at the 150k-doc
    # SCALECHECK rung). Unused high bits (b >= 3w) cost only JVM-side
    # adds; the 3w mask below makes fp identical to the oracle's
    # b < 3w sum.
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"2 * (shiftright(h60, {b}) & 1) - 1")).alias(f"v{b}")
            for b in range(60)
        ]
    )
    fp_full = _reduce(
        Column.__add__,
        [
            F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            for b in range(60)
        ],
    )
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), 3 * w) - 1")
    sim = (
        votes.crossJoin(F.broadcast(params))
        .select("doc_id", "w", fp_full.bitwiseAND(mask).alias("fp"))
    )
    # The 3 band rows per doc come from a MAP-SIDE explode (r17, guide
    # §2.4; was a broadcast crossJoin against range(0,3) — one more
    # broadcast-exchange stage for the same rows), and each band row
    # CARRIES the doc's fingerprint so the exact Hamming rescore runs
    # in-row on the band join's output — the two join-back-to-sim stages
    # (sa/sb) disappear. fp is functionally dependent on doc_id, so
    # filtering before the pair distinct and carrying hamming through it
    # yields the identical pair set; the distinct is the only exchange
    # after the band join.
    bands = sim.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).cast("int").alias("band"),
                        F.expr(
                            f"shiftright(fp, w * {band})"
                            " & (shiftleft(CAST(1 AS BIGINT), w) - 1)"
                        ).alias("bv"),
                    )
                    for band in range(3)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "fp", "bk.band", "bk.bv")
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.expr("bit_count(a.fp ^ b.fp)").cast("long")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(hamming <= 2)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


@register(
    "t_fingerprint",
    f"""
    WITH sh AS ({SHINGLES_SQL})
    SELECT doc_id, min(md5(s)) AS fingerprint,
           count(*) AS n_shingles
    FROM sh GROUP BY doc_id
    """,
)
def t_fingerprint(spark, sf_dir):
    """Document fingerprint: min-hash (k=1) over shingle md5s — the
    winnowing/rolling-hash fingerprint shape with a portable hash."""
    sh = shingles(spark, sf_dir)
    return sh.groupBy("doc_id").agg(
        F.min(F.md5("s")).alias("fingerprint"), F.count("*").alias("n_shingles")
    )


@register("t_minhash_dedup")  # rows-only: MLlib's MinHash family is internal
def t_minhash_dedup(spark, sf_dir):
    """MinHash+LSH near-dup candidate pairs (MLlib, seeded).

    tests/test_llm.py checks candidates ⊇ all high-Jaccard exact pairs.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH, RegexTokenizer

    docs = load_table(spark, sf_dir, "documents")
    tok = RegexTokenizer(inputCol="text", outputCol="words", pattern=r"\s+")
    featurized = tok.transform(docs)
    tf = HashingTF(inputCol="words", outputCol="features", numFeatures=1024, binary=True)
    feats = tf.transform(featurized).select("doc_id", "features")
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=5, seed=42)
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    return (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            f6(F.lit(1.0) - F.col("jaccard_dist")).alias("approx_jaccard"),
        )
    )


# --- the training-data pipeline: quality front and survivor stats ---------


def _quality_sql(where: str = "") -> str:
    """Oracle twin of _quality_exact's quality filter over ``documents``
    (optionally restricted by ``where``): the ``scored``/``quality`` CTEs."""
    return rf"""scored AS (
        SELECT doc_id, lang, text,
               len(string_split_regex(lower(text), '\s+')) AS n_tokens,
               len(list_distinct(string_split_regex(lower(text), '\s+'))) * 1.0
                   / len(string_split_regex(lower(text), '\s+')) AS distinct_ratio
        FROM documents{where}
    ),
    quality AS (SELECT * FROM scored WHERE n_tokens >= 20 AND distinct_ratio > 0.3)"""


# quality filter + digest-keyed canonical dedup (min doc_id per md5)
_DIGEST_FRONT_SQL = f"""{_quality_sql()},
    canon AS (SELECT md5(text) AS d, min(doc_id) AS keep FROM quality GROUP BY 1),
    exact AS (SELECT q.* FROM quality q
              JOIN canon c ON md5(q.text) = c.d AND q.doc_id = c.keep)"""

def _losers_sql(pairs: str) -> str:
    """The ``losers`` CTE: the higher doc_id of each Jaccard >= 0.5 pair
    of the (da, db, i) CTE ``pairs``."""
    return f"""losers AS (SELECT DISTINCT db AS doc_id FROM {pairs}
               JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
               WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5)"""


# per-language stats of the exact-dedup survivors that are no near-dup loser
_SURVIVOR_STATS_SQL = """SELECT lang, count(*) AS n_docs, round(avg(n_tokens), 6) AS avg_tokens
    FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    GROUP BY lang"""


def _quality_exact(docs: DataFrame, key) -> DataFrame:
    """The pipeline front: quality filter (>= 20 tokens, distinct-token
    ratio > 0.3) -> canonical exact dedup, keeping the min doc_id per
    ``key`` (the text itself, or its md5 digest so text never becomes a
    shuffle key). Carries n_tokens for the per-language stats."""
    w = F.split(F.lower("text"), r"\s+")
    scored = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(w).alias("n_tokens"),
        (F.expr("size(array_distinct(split(lower(text), '\\\\s+')))") * 1.0 / F.size(w)).alias(
            "distinct_ratio"
        ),
    )
    quality = scored.where((F.col("n_tokens") >= 20) & (F.col("distinct_ratio") > 0.3))
    wmin = Window.partitionBy(key)
    return (
        quality.withColumn("min_id", F.min("doc_id").over(wmin))
        .where(F.col("doc_id") == F.col("min_id"))
        .drop("min_id")
    )


def _survivor_stats(exact: DataFrame, losers: DataFrame) -> DataFrame:
    """(lang, n_docs, avg_tokens) over ``exact`` minus the ``losers``."""
    kept = exact.join(losers, "doc_id", "left_anti")
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"), f6(F.avg("n_tokens")).alias("avg_tokens")
    )


@register(
    "t_pipeline_e2e",
    rf"""
    WITH {_quality_sql(" WHERE doc_id < 1000")},
    exact AS (
        SELECT * FROM quality q WHERE NOT EXISTS (
            SELECT 1 FROM quality q2 WHERE q2.text = q.text AND q2.doc_id < q.doc_id)
    ),
    toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM exact),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS s
           FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks)),
    {_sizes_inter_sql("pairs", "da", "db")},
    {_losers_sql("pairs")}
    {_SURVIVOR_STATS_SQL}
    """,
)
def t_pipeline_e2e(spark, sf_dir):
    """The full training-data pipeline as ONE lazy plan: quality filter ->
    canonical exact dedup -> near-dup removal (drop the higher doc_id of
    each Jaccard>=0.5 pair) -> per-language corpus stats. Composition is
    the point: each stage is an operator already verified standalone, and
    Catalyst plans the chain with no materialization between stages.
    Scale variant without the doc_id<1000 bound: t_pipeline_e2e_scale."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    exact = _quality_exact(docs, "text")
    # near-dup losers among the survivors (jaccard >= 0.5 over 2-shingles)
    pairs = _jaccard_pairs(
        _pair_counts(_bigram_set(exact), "da", "db"), F.broadcast(bigram_sizes(exact)), 0.5
    )
    losers = pairs.select(F.greatest("da", "db").alias("doc_id")).distinct()
    return _survivor_stats(exact, losers)


@register(
    "t_pipeline_e2e_scale",
    rf"""
    WITH {_DIGEST_FRONT_SQL},
    toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM exact),
    sh0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS s
            FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks)),
    {_CAPPED_SQL},
    {_sizes_inter_sql("pairs", "da", "db")},
    {_losers_sql("pairs")}
    {_SURVIVOR_STATS_SQL}
    """,
)
def t_pipeline_e2e_scale(spark, sf_dir):
    """t_pipeline_e2e with every per-stage scale fix and NO corpus bound:
    quality filter -> canonical dedup keyed by md5 digest (survivor = min
    doc_id per digest, deterministic even for cross-language duplicate
    texts) -> near-dup removal over df-capped shingle postings (<= 64, the
    t_jaccard_neardup_capped bound) -> per-language stats. Still one lazy
    Catalyst plan; every shuffle key is either a digest, a shingle, or a
    doc_id — never the document text as a join key."""
    exact = _quality_exact(load_table(spark, sf_dir, "documents"), F.md5("text"))
    sh = _df_capped(_bigram_set(exact))
    # no broadcast hint on the unbounded sizes table (cf.
    # t_jaccard_neardup_capped) -- AQE decides from measured size
    pairs = _jaccard_pairs(_pair_counts(sh, "da", "db"), _counts(sh), 0.5)
    losers = pairs.select(F.greatest("da", "db").alias("doc_id")).distinct()
    return _survivor_stats(exact, losers)


# Jaccard>=0.5 components as a recursive reachability closure: asg maps
# each clustered doc to its component's min doc_id
_CLUSTERS_SQL = f"""WITH RECURSIVE sh AS ({SHINGLES_SQL}),
    {_sizes_inter_sql("inter", "da", "db")},
    pairs AS (SELECT da, db FROM inter
              JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
              WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
    e AS (SELECT da AS a, db AS b FROM pairs
          UNION SELECT db, da FROM pairs),
    reach AS (SELECT a, b FROM e UNION SELECT DISTINCT a, a FROM e
              UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
    asg AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)"""


@register(
    "t_dup_clusters",
    f"""
    {_CLUSTERS_SQL}
    SELECT asg.doc_id, asg.cluster_id, CAST(cs.cnt AS BIGINT) AS cluster_size
    FROM asg JOIN (SELECT cluster_id, count(*) AS cnt FROM asg GROUP BY 1) cs
         ON cs.cluster_id = asg.cluster_id
    """,
)
def t_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the Jaccard>=0.5 pair
    graph, survivor = min doc_id per component — the step that turns
    pairwise near-dup hits into actual dedup decisions (pairs alone
    over-delete: a~b, b~c must collapse to ONE canonical doc, not two
    independent drops).

    Spark side is iterative min-label propagation: each round joins labels
    to the edge list and takes min(own, neighbors'); converges in
    O(component diameter) rounds (dup clusters are tiny — 2-3 rounds
    here). Each round pays ONE action, the localCheckpoint that
    materializes its labels and truncates lineage; the convergence
    test's changed-row count rides on that action as an observed metric
    (``DataFrame.observe``) instead of a count() job of its own — a
    driver-side scalar is how every iterative Spark graph algorithm
    terminates, not a data collect.
    The oracle is a DuckDB recursive CTE computing the same components
    exactly.
    """
    edges = _jaccard05_edges(spark, sf_dir)
    labels = _minlabel_components(edges)
    edges.unpersist()
    csize = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(csize, "label")
        .select(
            "doc_id",
            F.col("label").alias("cluster_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )


def _jaccard05_edges(spark, sf_dir) -> DataFrame:
    """Symmetric (a, b) edge list of the Jaccard>=0.5 near-dup pair graph
    — the shared front of t_dup_clusters and t_dup_keep_best (one
    construction so the survivor-selection keys can't diverge from the
    clustering key's pair rule). Returned CACHED; callers unpersist."""
    sizes = bigram_sizes(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    )
    pairs = _jaccard_pairs(
        _pair_counts(shingles(spark, sf_dir), "da", "db"), F.broadcast(sizes), 0.5
    )
    # Both orientations via ONE map-side explode instead of
    # pairs UNION pairs-flipped (r17, guide §2.4): the union form re-ran
    # the whole uncached shingle self-join + pair-aggregate subtree once
    # per branch while materializing this cache (AQE does not reuse the
    # exchange across the union's branches — same duplicate-stage shape
    # measured on r_user_cosine_capped). Identical row multiset.
    return (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("da").alias("a"), F.col("db").alias("b")),
                    F.struct(F.col("db").alias("a"), F.col("da").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .cache()
    )


def _minlabel_components(edges) -> DataFrame:
    """Converged min-label connected components (doc_id, label) over a
    symmetric cached edge list — t_dup_clusters' iterative propagation,
    factored so every survivor-selection variant runs the identical
    clustering. Each round is ONE action: its eager localCheckpoint
    materializes the round's labels off the growing join lineage, and an
    Observation counts the round's changed rows inside that same action,
    so the convergence test adds no job. The converged round's
    checkpoint is the result; the caller may release the edge list."""
    # Round 0 from the initial labels (each doc its own) is one aggregate:
    # the edge list is symmetric, so every doc has a neighbour.
    new = (
        edges.groupBy(F.col("a").alias("doc_id"))
        .agg(F.min("b").alias("nlabel"))
        .select(
            "doc_id",
            F.least("doc_id", "nlabel").alias("label"),
            F.col("doc_id").alias("_prev"),
        )
    )
    for _ in range(20):  # cap >> any real component diameter here
        changed = Observation()
        labels = (
            new.observe(
                changed,
                F.count_if(F.col("label") != F.col("_prev")).alias("n"),
            )
            .localCheckpoint()
            .select("doc_id", "label")
        )
        if changed.get["n"] == 0:
            break
        neigh = (
            edges.join(labels, edges.b == labels.doc_id)
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        new = labels.join(neigh, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            F.col("label").alias("_prev"),
        )
    return labels


# --- MinHash-LSH with an exact cross-engine oracle -------------------------


def _sig_cols_sql(k: int) -> str:
    """Oracle twin of _minhash_sig's k salted-md5 min columns."""
    return ",\n           ".join(f"min(md5('{j}:' || s)) AS h{j}" for j in range(k))


def _bands_sql(nb: int, sig: str = "sig") -> str:
    """Oracle twin of _minhash_bands over the ``sig`` CTE."""
    return "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(h{2 * b} || h{2 * b + 1}) AS bkey"
        f" FROM {sig}"
        for b in range(nb)
    )


# k=8 signatures of the ``sh`` CTE, banded 4 x 2
_SIG_BANDS_SQL = f"""sig AS (SELECT doc_id,
           {_sig_cols_sql(8)}
           FROM sh GROUP BY doc_id),
    bands AS ({_bands_sql(4)})"""


def _band_cand_sql(da: str, db: str) -> str:
    """Oracle twin of _band_candidates over the ``bands`` CTE."""
    return f"""cand AS (SELECT DISTINCT a.doc_id AS {da}, b.doc_id AS {db}
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"""


def _rescore_sql(c: str, da: str, db: str) -> str:
    """Oracle twin of _rescore's sizes and candidate-pair intersections."""
    return f"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT {c}.{da}, {c}.{db}, count(*) AS i
              FROM cand {c}
              JOIN sh x ON x.doc_id = {c}.{da}
              JOIN sh y ON y.doc_id = {c}.{db} AND y.s = x.s
              GROUP BY 1, 2)"""


def _minhash_sig(sh: DataFrame, k: int) -> DataFrame:
    """(doc_id, h0..h{k-1}): k salted-md5 minhashes of each shingle set —
    one map-combinable min-aggregate, constant 32 chars per hash per doc."""
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("s")))).alias(f"h{j}")
            for j in range(k)
        ]
    )


def _minhash_bands(sig: DataFrame, nb: int) -> DataFrame:
    """(doc_id, band, bkey): ``nb`` bands of 2 rows each, a band's key the
    md5 of its two hashes, exploded map-side from the signature row."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}"))).alias(
                            "bkey"
                        ),
                    )
                    for b in range(nb)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bkey")


def _band_candidates(bands: DataFrame, da: str, db: str) -> DataFrame:
    """(da, db): distinct ordered pairs that collide in at least one band."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, ["band", "bkey"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias(da), F.col("b.doc_id").alias(db))
        .distinct()
    )


def _rescore(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """(da, db, jaccard): the (da, db) candidate pairs whose exact
    shingle Jaccard reaches 0.5, unrounded. Candidate-driven: postings are joined per
    candidate pair only, never all pairs. sizes stay a groupBy over the
    (cached) sh (r17 measured: a map-side bigram_sizes rebuild is 5 s
    SLOWER — the cache read is cheaper than re-splitting text, and the
    aggregate's small stats keep the final sizes joins broadcast)."""
    da, db = cand.columns
    sizes = _counts(sh)
    x = sh.select(F.col("doc_id").alias(da), "s")
    y = sh.select(F.col("doc_id").alias(db), "s")
    inter = cand.join(x, da).join(y, [db, "s"]).groupBy(da, db).agg(
        F.count("*").alias("i")
    )
    sa = sizes.select(F.col("doc_id").alias(da), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias(db), F.col("n").alias("nb"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    pairs = inter.join(sa, da).join(sb, db).where(jac >= 0.5)
    return pairs.select(da, db, jac.alias("jaccard"))


@register(
    "t_minhash_lsh",
    f"""
    WITH sh AS ({SHINGLES_FULL_SQL}),
    {_SIG_BANDS_SQL},
    {_band_cand_sql("doc_a", "doc_b")},
    {_rescore_sql("c", "doc_a", "doc_b")}
    {_jaccard_select_sql(0.5)}
    """,
)
def t_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup with an EXACT SQL oracle (unlike t_minhash_dedup,
    whose MLlib hash family is engine-internal): k=8 salted-md5 minhash
    signatures, 4 bands x 2 rows, banded candidate join, exact-Jaccard
    rescoring at >= 0.5. md5 is identical in both engines, so candidate
    generation AND verification replay exactly in DuckDB.

    100 TB shape: signatures are one groupBy over (doc, shingle) pairs
    emitting a constant 8x32 chars per doc; the self-join key is a 32-char
    band digest (uniform, unskewed); exact verification touches only
    candidate pairs' posting lists, never all pairs. Full corpus, no doc_id
    bound. The s-curve at (b=4, r=2) keeps J=1.0 pairs with probability 1
    (identical signatures) — pytest pins that invariant.
    """
    sh = shingles(spark, sf_dir, bounded=False, wide=True)
    cand = _band_candidates(_minhash_bands(_minhash_sig(sh, 8), 4), "doc_a", "doc_b")
    pairs = _rescore(cand, sh)
    return pairs.select("doc_a", "doc_b", f6(F.col("jaccard")).alias("jaccard"))


_E2E_FRONT_SQL = rf"""
    {_DIGEST_FRONT_SQL},
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS s
           FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
                 FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
                       FROM exact)))
"""


@register(
    "t_pipeline_e2e_lsh",
    f"""
    WITH {_E2E_FRONT_SQL},
    {_SIG_BANDS_SQL},
    {_band_cand_sql("da", "db")},
    {_rescore_sql("c", "da", "db")},
    {_losers_sql("inter")}
    {_SURVIVOR_STATS_SQL}
    """,
)
def t_pipeline_e2e_lsh(spark, sf_dir):
    """THE 100 TB training-data pipeline: quality filter -> digest-keyed
    exact dedup -> MinHash-LSH near-dup removal (banded candidates + exact
    rescore, t_minhash_lsh's construction) -> per-language stats, one lazy
    plan.

    Compared to t_pipeline_e2e_scale (df-capped posting self-join), the
    near-dup stage here never joins posting lists to FIND candidates — it
    joins constant-size signatures on uniform band digests, then rescores
    only candidate pairs. Candidate cost is O(collisions), independent of
    shingle document frequency. Same md5 arithmetic in DuckDB -> exact
    oracle for the full pipeline.
    """
    exact = _quality_exact(load_table(spark, sf_dir, "documents"), F.md5("text"))
    sh = _bigram_set(exact)
    cand = _band_candidates(_minhash_bands(_minhash_sig(sh, 8), 4), "da", "db")
    losers = _rescore(cand, sh).select(F.col("db").alias("doc_id")).distinct()
    return _survivor_stats(exact, losers)


@register(
    "t_winnowing",
    r"""
    WITH g AS (
        SELECT doc_id, i, md5(w[i] || ' ' || w[i + 1]) AS h
        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
              FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
                    FROM documents WHERE doc_id < 1000)
              WHERE len(w) >= 5)
    ),
    wm AS (
        SELECT doc_id,
               min(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
               count(*) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
        FROM g
    )
    SELECT doc_id, CAST(count(DISTINCT sel) AS BIGINT) AS n_fp,
           min(sel) AS fp_min
    FROM wm WHERE wn = 4 GROUP BY doc_id
    """,
)
def t_winnowing(spark, sf_dir):
    """Winnowing fingerprints (MOSS): hash every positional bigram, slide a
    w=4 window over the hash sequence, keep each window's minimum, and
    fingerprint the doc with the DISTINCT selected set (count + min here so
    the output stays scalar). Unlike t_fingerprint's single global min-hash,
    winnowing guarantees any shared run of >= w+k-1 tokens between two docs
    contributes a shared fingerprint — the local-similarity detector.

    Plan shape: bigram hashes build map-side via transform (no self-join),
    the window min and the per-doc rollup share one doc_id shuffle, and the
    selected set is ~2/(w+1) of the input hashes — at 100 TB the stored
    fingerprint index is ~40% of the gram stream, tunable by w. md5 grams
    make the window-min portable across engines; positions are unique per
    doc so the frame is deterministic.
    """
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    g = (
        docs.select("doc_id", F.split(F.lower("text"), r"\s+").alias("w"))
        .where(F.size("w") >= 5)
        .select(
            "doc_id",
            F.posexplode(
                bigram_array("md5(concat(w[i], ' ', w[i + 1]))")
            ).alias("i", "h"),
        )
    )
    wspec = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, 3)
    wm = g.select(
        "doc_id",
        F.min("h").over(wspec).alias("sel"),
        F.count("*").over(wspec).alias("wn"),
    )
    return (
        wm.where(F.col("wn") == 4)
        .groupBy("doc_id")
        .agg(
            F.countDistinct("sel").cast("long").alias("n_fp"),
            F.min("sel").alias("fp_min"),
        )
    )


# -- dedup-quality evaluation -------------------------------------------------

@register(
    "t_lsh_recall",
    f"""
    WITH exact AS (
        SELECT doc_a, doc_b FROM ({_ORACLE["t_jaccard_neardup"]})
        WHERE jaccard >= 0.5
    ),
    lsh AS (
        SELECT doc_a, doc_b FROM ({_ORACLE["t_minhash_lsh"]})
        WHERE doc_a < 1000 AND doc_b < 1000
    )
    SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
           CAST((SELECT count(*) FROM exact e JOIN lsh l
                 ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b) AS BIGINT) AS n_hit,
           round((SELECT count(*) FROM exact e JOIN lsh l
                  ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b) * 1.0
                 / greatest((SELECT count(*) FROM exact), 1), 6) AS recall,
           round((SELECT count(*) FROM exact e JOIN lsh l
                  ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b) * 1.0
                 / greatest((SELECT count(*) FROM lsh), 1), 6) AS precision
    """,
)
def t_lsh_recall(spark, sf_dir):
    """Dedup-quality evaluation: recall and precision of the banded
    MinHash-LSH near-dup pairs against the exact-Jaccard ≥ 0.5 ground
    truth, on the shared doc_id < 1000 slice — the measurement that
    justifies replacing the exact O(shared-shingle) join with the sketch
    at scale. Composes the two registered queries and their oracles, so
    the metric scores exactly what `t_minhash_lsh` produces.

    Plan shape: both pair sets reduce to tiny frames before the
    comparison join; the dominant cost is the underlying pipelines
    themselves. At 100 TB ground truth comes from a sampled slice exactly
    like this one.
    """
    exact = (
        t_jaccard_neardup(spark, sf_dir)
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    lsh = (
        t_minhash_lsh(spark, sf_dir)
        .where((F.col("doc_a") < 1000) & (F.col("doc_b") < 1000))
        .select(F.col("doc_a").alias("la"), F.col("doc_b").alias("lb"))
    )
    hit = exact.join(lsh, (exact.doc_a == lsh.la) & (exact.doc_b == lsh.lb))
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nl = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        ne.join(F.broadcast(nl)).join(F.broadcast(nh)).select(
            "n_exact", "n_lsh", "n_hit",
            f6(F.col("n_hit") * 1.0 / F.greatest(F.col("n_exact"), F.lit(1)))
            .alias("recall"),
            f6(F.col("n_hit") * 1.0 / F.greatest(F.col("n_lsh"), F.lit(1)))
            .alias("precision"),
        )
    )


@register(
    "t_split_leakage",
    """
    WITH folds AS (
        SELECT doc_id, md5(text) AS digest,
               CAST(list_sum(list_transform(range(1, 9),
                   j -> (strpos('0123456789abcdef',
                                substring(md5('fold:'
                                    || CAST(doc_id AS VARCHAR)), j, 1)) - 1)
                        * 16 ** (8 - j))) AS BIGINT) % 5 AS fold
        FROM documents
    ),
    dup_groups AS (
        SELECT digest,
               CAST(count(*) AS BIGINT) AS n_copies,
               CAST(count(DISTINCT fold) AS BIGINT) AS n_folds
        FROM folds GROUP BY digest HAVING count(*) > 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_dup_groups,
           CAST(coalesce(sum(CASE WHEN n_folds > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_leaking_groups,
           CAST(coalesce(sum(CASE WHEN n_folds > 1 THEN n_copies END), 0)
                AS BIGINT) AS n_leaking_docs
    FROM dup_groups
    """,
)
def t_split_leakage(spark, sf_dir):
    """Train/test split-leakage audit: duplicate-text groups whose
    copies land in DIFFERENT k-fold splits — each one is a test answer
    sitting in the training set (the eval-inflation bug dedup-then-
    split exists to prevent; t_decontaminate checks against an EXTERNAL
    benchmark, this checks the split against ITSELF). Composes the
    t_kfold_split hash folds with exact digests.

    Digests and fold ids are both map-side hash math; the only shuffle
    groups by digest (32-char keys, text never moves). The verdict
    rolls up to three counters — a 100 TB corpus audit costs one
    digest-keyed shuffle. The fix when n_leaking_groups > 0: assign
    folds by DIGEST instead of doc_id (one-line change), which this
    audit would then verify as zero.
    """
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 5
    )
    folds = docs.select(F.md5("text").alias("digest"), fold.alias("fold"))
    dup_groups = (
        folds.groupBy("digest")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.countDistinct("fold").cast("long").alias("n_folds"),
        )
        .where(F.col("n_copies") > 1)
    )
    return dup_groups.agg(
        F.count("*").cast("long").alias("n_dup_groups"),
        F.coalesce(
            F.sum(F.when(F.col("n_folds") > 1, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_leaking_groups"),
        F.coalesce(
            F.sum(F.when(F.col("n_folds") > 1, F.col("n_copies"))), F.lit(0)
        )
        .cast("long")
        .alias("n_leaking_docs"),
    )


@register(
    "t_template_detect",
    r"""
    WITH feed AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, replace(text, 'e', 'a')
        FROM documents WHERE doc_id % 53 = 0
    ),
    sig AS (
        SELECT doc_id,
               md5(array_to_string(list_transform(
                   string_split_regex(text, '\s+'), w -> CAST(length(w) AS VARCHAR)),
                   ',')) AS shape
        FROM feed
    ),
    fam AS (
        SELECT shape, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS exemplar
        FROM sig GROUP BY shape HAVING count(*) > 1
    )
    SELECT shape, n_docs, exemplar
    FROM fam
    ORDER BY n_docs DESC, shape LIMIT 20
    """,
)
def t_template_detect(spark, sf_dir):
    """Template-family detection: documents sharing the same SHAPE
    signature (the sequence of word lengths) — catches mail-merge /
    boilerplate-with-slots pages ('Dear {name}, your {item} has
    shipped') that exact dedup misses (every instance differs) and
    MinHash underweights (the slots dilute shingle overlap). Top-20
    largest families with an exemplar doc for inspection. The fixture
    has natural shape-siblings only at sf0.1, so every 53rd doc is
    re-fed with 'e'→'a' substituted — SAME word-length shape,
    DIFFERENT text (the t_exact_dedup injection convention, and a
    live demonstration that exact dedup cannot catch these).

    The shape signature is a map-side array transform + md5 — text
    never shuffles, 32-char keys do (t_exact_dedup_digest's shape with
    a structure-sensitive key); the family census is one digest-keyed
    fold. Slot-tolerance tunes by coarsening the signature (length
    buckets instead of exact lengths) with no plan change.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    feed = docs.unionByName(
        docs.where(F.col("doc_id") % 53 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.replace(F.col("text"), F.lit("e"), F.lit("a")).alias("text"),
        )
    )
    shape = F.md5(
        F.array_join(
            F.transform(
                F.split(F.col("text"), r"\s+"),
                lambda w: F.length(w).cast("string"),
            ),
            ",",
        )
    )
    sig = feed.select("doc_id", shape.alias("shape"))
    return (
        sig.groupBy("shape")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("exemplar"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy(F.col("n_docs").desc(), "shape")
        .limit(20)
    )


def lexical_hits(spark, sf_dir, q: DataFrame) -> DataFrame:
    """(qid, cand, score9): for each query doc of ``q`` (one ``qid``
    column), every other document sharing a df <= 64 shingle with it,
    scored by the sum of idf over the shared DISTINCT shingles. idf is
    snapped to 1e-9 BIGINTs so overlap sums are reduction-order-free;
    the df cap is _df_capped's rule (hot shingles carry no
    discriminative signal AND quadratic join volume)."""
    sh = shingles(spark, sf_dir, bounded=False)
    docs = load_table(spark, sf_dir, "documents")
    df = sh.groupBy("s").agg(F.count("*").cast("long").alias("df"))
    n = docs.agg(F.count("*").cast("long").alias("n"))
    idf = (
        df.where(F.col("df") <= 64)
        .crossJoin(F.broadcast(n))
        .select(
            "s",
            F.round(F.log(F.col("n") * 1.0 / F.col("df")) * 1e9)
            .cast("long")
            .alias("idf9"),
        )
    )
    t1 = sh.join(q, sh.doc_id == q.qid).select("qid", "s")
    return (
        t1.join(idf, "s")
        .join(
            sh.select(F.col("doc_id").alias("cand"), F.col("s").alias("s2")),
            (F.col("s2") == F.col("s")) & (F.col("cand") != F.col("qid")),
        )
        .groupBy("qid", "cand")
        .agg(F.sum("idf9").cast("long").alias("score9"))
    )


@register(
    "t_hard_negatives",
    f"""
    WITH sh AS ({SHINGLES_FULL_SQL}),
    df AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY s),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    idf AS (
        SELECT df.s,
               CAST(round(ln(n.n * 1.0 / df.df) * 1e9) AS BIGINT) AS idf9
        FROM df CROSS JOIN n WHERE df.df <= 64
    ),
    dig AS (SELECT doc_id, md5(text) AS digest FROM documents),
    q AS (SELECT doc_id AS qid FROM documents WHERE doc_id % 97 = 0),
    hits AS (
        SELECT q.qid, t2.doc_id AS cand,
               CAST(sum(i.idf9) AS BIGINT) AS score9
        FROM q
        JOIN sh t1 ON t1.doc_id = q.qid
        JOIN idf i ON i.s = t1.s
        JOIN sh t2 ON t2.s = t1.s AND t2.doc_id <> q.qid
        GROUP BY 1, 2
    )
    SELECT qid, cand, score9, rn FROM (
        SELECT h.qid, h.cand, h.score9,
               CAST(row_number() OVER (PARTITION BY h.qid
                                       ORDER BY h.score9 DESC, h.cand)
                    AS BIGINT) AS rn
        FROM hits h
        JOIN dig dq ON dq.doc_id = h.qid
        JOIN dig dc ON dc.doc_id = h.cand
        WHERE dq.digest <> dc.digest
    ) WHERE rn <= 5 ORDER BY qid, rn
    """,
)
def t_hard_negatives(spark, sf_dir):
    """Hard-negative mining for retrieval/embedding training — for each
    sampled query doc (1/97), the top-5 lexically-closest documents
    that are NOT duplicates: close enough to confuse a model
    (idf-weighted shared-shingle overlap — bigram shingles, the repo's
    near-dup unit, because the fixtures' tiny unigram vocab makes
    every WORD stopword-grade) but verified distinct (md5 digests
    differ — an exact dup mined as a 'negative' poisons the
    contrastive loss, the classic in-batch-negatives bug). This is the
    candidate-generation half of a DPR/Contriever-style training
    pipeline, run corpus-scale.

    Scoring = Σ idf over shared DISTINCT shingles, idf snapped to 1e-9
    BIGINTs so overlap sums are reduction-order-free; the posting-list
    join caps shingle df at 64 (the t_jaccard_neardup_capped rule: hot
    shingles carry no discriminative signal AND quadratic join
    volume — one cap removes both). Plan: query shingles filter
    map-side; the capped posting join shuffles on the shingle; one
    (query, cand) aggregate; digest anti-filter; per-query top-5
    window. Linear in corpus size at a fixed query sample rate.
    """
    docs = load_table(spark, sf_dir, "documents")
    dig = docs.select("doc_id", F.md5("text").alias("digest"))
    q = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("qid")
    )
    hits = lexical_hits(spark, sf_dir, q)
    dq = dig.select(F.col("doc_id").alias("qid"), F.col("digest").alias("dgq"))
    dc = dig.select(F.col("doc_id").alias("cand"), F.col("digest").alias("dgc"))
    w = Window.partitionBy("qid").orderBy(F.col("score9").desc(), "cand")
    return (
        hits.join(dq, "qid")
        .join(dc, "cand")
        .where(F.col("dgq") != F.col("dgc"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 5)
        .select("qid", "cand", "score9", "rn")
        .orderBy("qid", "rn")
    )


@register(
    "t_containment_neardup",
    f"""
    WITH sh0 AS ({SHINGLES_FULL_SQL}),
    {_CAPPED_SQL},
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
              FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(count(*) AS BIGINT) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b, sa.n AS size_a, i AS shared,
           round(i * 1.0 / sa.n, 6) + 0 AS containment
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a
    WHERE sa.n >= 8 AND i * 1.0 / sa.n >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def t_containment_neardup(spark, sf_dir):
    """Shingle CONTAINMENT near-dup — Broder's second measure, the one
    resemblance (Jaccard) structurally misses: C(A→B) = |A∩B|/|A| is
    ASYMMETRIC, so a short document quoted or embedded whole inside a
    much longer one scores ~1 here while its Jaccard drowns in the
    union (i/(na+nb−i) → 0 as B grows).  This is the dedup policy for
    quote-inclusion, boilerplate-wrapping, and expanded-revision
    pairs: directed pairs with ≥50% of A's shingles inside B, A at
    least 8 shingles (tiny docs trivially contain).

    Same 100 TB plan as t_jaccard_neardup_capped — df≤64 posting cap
    bounds every shingle's pair fan-out before the equi-join; sizes
    and intersections are exact BIGINTs over the capped sets on both
    engines, so the oracle is exact.  The direction doubles candidate
    rows (a<>b, not a<b) but not the join work (same posting pairs,
    emitted both ways).
    """
    # cached for the same 3-consumer replay reason as
    # t_jaccard_neardup_capped (s-clustered, so the self-join is
    # exchange-free).
    # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
    # cleared per run): median 3.06 -> 3.80 s without it, IQR 0.28 s.
    sh = _df_capped(shingles(spark, sf_dir, bounded=False)).cache()
    sizes = _counts(sh)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").cast("long").alias("i"))
    )
    sa = sizes.alias("sa")
    cont = F.col("i") * 1.0 / F.col("sa.n")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .where((F.col("sa.n") >= 8) & (cont >= 0.5))
        .select(
            "doc_a",
            "doc_b",
            F.col("sa.n").alias("size_a"),
            F.col("i").alias("shared"),
            f6(cont).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "t_lsh_s_curve",
    """
    WITH params AS (
        SELECT * FROM (VALUES (2, 4), (4, 2), (8, 1)) AS t(b, r)
    ),
    jgrid AS (SELECT unnest(range(1, 10)) AS j10),
    curve AS (
        SELECT p.b, p.r, g.j10,
               CAST(round((1.0 - (1.0 - (g.j10 / 10.0) ** p.r) ** p.b)
                          * 1e9) AS BIGINT) AS p9
        FROM params p CROSS JOIN jgrid g
    )
    SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band,
           round(j10 / 10.0, 1) + 0 AS jaccard,
           round(p9 / 1e9, 6) + 0 AS candidate_prob,
           CASE WHEN p9 >= 500000000 THEN 1 ELSE 0 END
               AS likely_candidate
    FROM curve ORDER BY bands, rows_per_band, jaccard
    """,
)
def t_lsh_s_curve(spark, sf_dir):
    """The MinHash-LSH s-curve planner — the parameter table every LSH
    deployment consults BEFORE choosing (bands, rows): candidate
    probability P = 1 − (1 − J^r)^b over the Jaccard grid for the
    three 8-hash splits (2×4 strict, 4×2 balanced — the
    t_minhash_lsh production setting — and 8×1 recall-greedy).  The
    50% crossover (≈(1/b)^(1/r)) read off the likely_candidate column
    is the operative threshold: at (4,2) it sits near J≈0.5, which is
    WHY t_minhash_lsh holds J=1 recall at 1.0 while random pairs
    almost never collide — the s-curve is the engineering contract
    behind the measured SCALECHECK linearity, here made queryable.

    Pure bounded literal math (27 rows at any corpus size), identical
    ** associations both engines, probabilities snapped to 1e-9
    BIGINTs; this key costs nothing and documents the tuning knob the
    dedup ladder's scale claims depend on.
    """
    params = spark.createDataFrame(
        [(2, 4), (4, 2), (8, 1)], "b int, r int"
    )
    jgrid = spark.range(1, 10).select(F.col("id").cast("int").alias("j10"))
    curve = params.crossJoin(jgrid).select(
        "b",
        "r",
        "j10",
        F.round(
            (
                1.0
                - F.pow(
                    1.0 - F.pow(F.col("j10") / 10.0, F.col("r")),
                    F.col("b"),
                )
            )
            * 1e9
        )
        .cast("long")
        .alias("p9"),
    )
    return curve.select(
        F.col("b").cast("long").alias("bands"),
        F.col("r").cast("long").alias("rows_per_band"),
        (F.round(F.col("j10") / 10.0, 1) + 0.0).alias("jaccard"),
        f6(F.col("p9") / 1e9).alias("candidate_prob"),
        F.when(F.col("p9") >= 500000000, 1)
        .otherwise(0)
        .alias("likely_candidate"),
    ).orderBy("bands", "rows_per_band", "jaccard")


@register(
    "t_minhash_lsh_incremental",
    f"""
    WITH sh AS ({SHINGLES_FULL_SQL}),
    {_SIG_BANDS_SQL},
    cand AS (SELECT DISTINCT n.doc_id AS doc_new, c.doc_id AS doc_corpus
             FROM bands n JOIN bands c
               ON n.band = c.band AND n.bkey = c.bkey
             WHERE n.doc_id % 7 = 0 AND c.doc_id % 7 <> 0),
    {_rescore_sql("cd", "doc_new", "doc_corpus")}
    SELECT doc_new, doc_corpus,
           round(i * 1.0 / (sa.n + sb.n - i), 6) + 0 AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_new
               JOIN sizes sb ON sb.doc_id = doc_corpus
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
    ORDER BY doc_new, doc_corpus
    """,
)
def t_minhash_lsh_incremental(spark, sf_dir):
    """Incremental MinHash-LSH near-dup: dedup an INGEST BATCH against the
    existing corpus signature bank — the shape a 100 TB pipeline actually
    runs daily (re-running t_minhash_lsh over the full corpus per ingest
    would be a full-corpus self-join every day; probing the bank is work
    proportional to the batch). The batch is the deterministic ~1/7 slice
    doc_id % 7 = 0; everything else is the banked corpus.

    Same exact-oracle construction as t_minhash_lsh (k=8 salted-md5
    signatures, 4 bands x 2 rows, banded candidate equi-join, exact
    Jaccard rescore at >= 0.5; md5 replays identically in DuckDB). The
    candidate join is DIRECTED (new probes corpus, never corpus x
    corpus), so candidates = batch band keys x bank postings; intra-batch
    duplicates are t_minhash_lsh's job on the batch alone. At 100 TB the
    corpus side of sig/bands is a precomputed, append-only table (8x32
    chars + 4x32-char band keys per doc — the bank this operator reads);
    only the batch's shingle sets are computed fresh, and the exact
    rescore touches candidate posting lists only.
    """
    sh = shingles(spark, sf_dir, bounded=False, wide=True)
    bands = _minhash_bands(_minhash_sig(sh, 8), 4)
    bn = bands.where(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("doc_new"), "band", "bkey"
    )
    bc = bands.where(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("doc_corpus"), "band", "bkey"
    )
    cand = bn.join(bc, ["band", "bkey"]).select("doc_new", "doc_corpus").distinct()
    return (
        _rescore(cand, sh)
        .select("doc_new", "doc_corpus", f6(F.col("jaccard")).alias("jaccard"))
        .orderBy("doc_new", "doc_corpus")
    )


@register(
    "t_dup_keep_best",
    f"""
    {_CLUSTERS_SQL},
    docs AS (SELECT doc_id, length(text) AS len FROM documents),
    best AS (
        SELECT cluster_id, doc_id AS kept_doc, len AS kept_len FROM (
            SELECT asg.cluster_id, asg.doc_id, d.len,
                   row_number() OVER (PARTITION BY asg.cluster_id
                                      ORDER BY d.len DESC, asg.doc_id) AS rn
            FROM asg JOIN docs d ON d.doc_id = asg.doc_id
        ) WHERE rn = 1
    )
    SELECT b.cluster_id, CAST(cs.cnt AS BIGINT) AS cluster_size,
           b.kept_doc, CAST(b.kept_len AS BIGINT) AS kept_len,
           CAST(CASE WHEN b.kept_doc <> b.cluster_id THEN 1 ELSE 0 END
                AS BIGINT) AS differs_from_min_id
    FROM best b
    JOIN (SELECT cluster_id, count(*) AS cnt FROM asg GROUP BY 1) cs
      ON cs.cluster_id = b.cluster_id
    ORDER BY b.cluster_id
    """,
)
def t_dup_keep_best(spark, sf_dir):
    """Quality-based survivor selection within near-dup clusters — the
    KEEP decision between clustering and deletion that t_dup_clusters'
    min-id rule punts on: real pipelines keep the BEST variant of a
    duplicated document (here: longest text, the standard keep-the-
    superset heuristic for crawl near-dups — a truncated copy loses to
    its complete original), not the one with the smallest id.
    differs_from_min_id is the honesty column: the fraction of clusters
    where quality-aware selection actually changes the decision vs the
    naive rule — if it's ~0 the extra machinery is cargo cult, if it's
    high the min-id pipelines upstream are silently keeping truncated
    variants.

    Shares the exact pair rule and the min-label component propagation
    with t_dup_clusters (_jaccard05_edges / _minlabel_components — one
    construction, so the keep stage can never run on different clusters
    than the census reports). The survivor argmax is one per-cluster
    WindowGroupLimit over (len DESC, doc_id) — integer lengths, exact
    tiebreak, identical in the oracle's recursive-CTE clusters.

    Scale: clustering is the O(diameter)-round propagation already
    measured linear; the keep stage adds one broadcast-joinable doc-
    length frame and one window over cluster-id — work linear in
    clustered docs (a small minority of the corpus by construction).
    """
    edges = _jaccard05_edges(spark, sf_dir)
    labels = _minlabel_components(edges)
    edges.unpersist()
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("len")
    )
    lab = labels.select("doc_id", F.col("label").alias("cluster_id"))
    wbest = Window.partitionBy("cluster_id").orderBy(
        F.col("len").desc(), "doc_id"
    )
    joined = lab.join(docs, "doc_id")
    best = (
        joined.withColumn("rn", F.row_number().over(wbest))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc"),
            F.col("len").cast("long").alias("kept_len"),
        )
    )
    csize = lab.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return (
        best.join(csize, "cluster_id")
        .select(
            "cluster_id",
            "cluster_size",
            "kept_doc",
            "kept_len",
            (F.col("kept_doc") != F.col("cluster_id"))
            .cast("long")
            .alias("differs_from_min_id"),
        )
        .orderBy("cluster_id")
    )


@register(
    "t_local_vs_global_dedup",
    """
    WITH base AS (
        SELECT md5(text) AS dig, source FROM documents
        UNION ALL
        SELECT md5(text) AS dig, 'recrawl' AS source FROM documents
        WHERE doc_id % 10 = 0
    ),
    sh AS (SELECT dig, source, substr(dig, 1, 1) AS hshard FROM base),
    gstat AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT dig) AS BIGINT) AS global_unique
        FROM sh
    ),
    loc_src AS (
        SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_shards,
               CAST(sum(u) AS BIGINT) AS local_unique
        FROM (SELECT source, count(DISTINCT dig) AS u FROM sh
              GROUP BY source)
    ),
    loc_hash AS (
        SELECT CAST(count(DISTINCT hshard) AS BIGINT) AS n_shards,
               CAST(sum(u) AS BIGINT) AS local_unique
        FROM (SELECT hshard, count(DISTINCT dig) AS u FROM sh
              GROUP BY hshard)
    )
    SELECT 'by_content_hash' AS scheme, g.n_docs, h.n_shards,
           h.local_unique, g.global_unique,
           CAST(h.local_unique - g.global_unique AS BIGINT) AS missed_dups
    FROM gstat g, loc_hash h
    UNION ALL
    SELECT 'by_source', g.n_docs, s.n_shards, s.local_unique,
           g.global_unique,
           CAST(s.local_unique - g.global_unique AS BIGINT)
    FROM gstat g, loc_src s
    ORDER BY scheme
    """,
)
def t_local_vs_global_dedup(spark, sf_dir):
    """Shard-local vs global dedup yield — the partitioning-design audit.

    The first design decision of a 100 TB dedup job is the shard key.
    Dedup WITHIN shards is embarrassingly parallel (no cross-shard
    shuffle), but it only equals GLOBAL dedup when every copy of a text
    lands on the same shard. Sharding by content hash guarantees that by
    construction — md5(text) determines the shard, so duplicates collide
    — while the operationally tempting layout (shard = crawl source, the
    way the data already arrives on disk) silently misses every
    cross-source duplicate. This operator measures both schemes against
    the global answer on the same corpus: a 'recrawl' batch (the doc_id%5
    incremental-dedup slice's sibling: doc_id%10 re-ingested under a new
    source name) plants cross-source duplicates deterministically at
    every sf, and the natural cross-source dups at larger sf add to it.
    `missed_dups` = extra survivors a shard-local dedup would ship to
    training — 0 for by_content_hash at ANY scale, > 0 for by_source.

    Scale design: both censuses shuffle 32-char digests only (text is
    dropped at the scan); the per-scheme distinct-counts are two
    map-side-combinable aggregations, and the scheme summaries join as
    broadcast single-row frames. The punchline IS the scale lesson: with
    hash sharding, 100 TB dedup needs one digest-keyed exchange, ever.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select(F.md5("text").alias("dig"), "source")
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 0).select(
                F.md5("text").alias("dig"), F.lit("recrawl").alias("source")
            )
        )
        .withColumn("hshard", F.substring("dig", 1, 1))
    )
    glob = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_distinct("dig").cast("long").alias("global_unique"),
    )
    loc_src = (
        base.groupBy("source")
        .agg(F.count_distinct("dig").alias("u"))
        .agg(
            F.count_distinct("source").cast("long").alias("n_shards"),
            F.sum("u").cast("long").alias("local_unique"),
        )
    )
    loc_hash = (
        base.groupBy("hshard")
        .agg(F.count_distinct("dig").alias("u"))
        .agg(
            F.count_distinct("hshard").cast("long").alias("n_shards"),
            F.sum("u").cast("long").alias("local_unique"),
        )
    )

    def scheme(name, loc):
        return (
            F.broadcast(glob)
            .crossJoin(F.broadcast(loc))
            .select(
                F.lit(name).alias("scheme"),
                "n_docs",
                "n_shards",
                "local_unique",
                "global_unique",
                (F.col("local_unique") - F.col("global_unique"))
                .cast("long")
                .alias("missed_dups"),
            )
        )

    return scheme("by_content_hash", loc_hash).unionByName(
        scheme("by_source", loc_src)
    ).orderBy("scheme")


def _curve_row_sql(k: int, nb: int) -> str:
    return f"""
        SELECT CAST({k} AS BIGINT) AS k,
               CAST((SELECT count(*) FROM c{k}) AS BIGINT) AS n_candidates,
               CAST((SELECT count(*) FROM c{k} c JOIN exact e
                     ON c.da = e.doc_a AND c.db = e.doc_b) AS BIGINT)
                   AS n_hits,
               CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_true,
               CAST((SELECT count(*) FROM c{k} c JOIN exact e
                     ON c.da = e.doc_a AND c.db = e.doc_b) * 1000000
                    // greatest((SELECT count(*) FROM exact), 1) AS BIGINT)
                   AS recall_ppm
    """


@register(
    "t_minhash_perm_curve",
    f"""
    WITH sh AS ({SHINGLES_SQL}),
    sig16 AS (SELECT doc_id,
           {_sig_cols_sql(16)}
           FROM sh GROUP BY doc_id),
    {_sizes_inter_sql("inter", "doc_a", "doc_b")},
    exact AS (
        SELECT doc_a, doc_b
        FROM inter JOIN sizes sa ON sa.doc_id = doc_a
                   JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
    ),
    b4 AS ({_bands_sql(2, "sig16")}),
    b8 AS ({_bands_sql(4, "sig16")}),
    b16 AS ({_bands_sql(8, "sig16")}),
    c4 AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           FROM b4 a JOIN b4 b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    c8 AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           FROM b8 a JOIN b8 b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    c16 AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
            FROM b16 a JOIN b16 b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
    SELECT * FROM ({_curve_row_sql(4, 2)}) r4
    UNION ALL SELECT * FROM ({_curve_row_sql(8, 4)}) r8
    UNION ALL SELECT * FROM ({_curve_row_sql(16, 8)}) r16
    ORDER BY k
    """,
)
def t_minhash_perm_curve(spark, sf_dir):
    """MinHash signature-size planning curve — the third axis of the
    dedup-tuning triptych (t_lsh_s_curve sweeps the THEORETICAL band
    geometry, v_neardup_threshold_sensitivity sweeps the threshold;
    this MEASURES what k permutations actually buy on the corpus):
    for k in {{4, 8, 16}} salted-md5 minhashes banded 2-rows-per-band,
    the candidate-pair count (the cost every extra band adds to the
    bucket join) and exact recall against the Jaccard >= 0.5 ground
    truth. k=4's bands are a PREFIX of k=16's, so candidates are
    provably nested and the recall curve is monotone — the test pins
    it — which is exactly how you read off the cheapest k that clears
    a recall SLO.

    Scale: one 16-column min-agg over the shared shingle frame (k=16
    costs the same single pass as k=4 — mins are map-combinable), three
    bounded bucket self-joins; the exact ground truth is the test-scale
    honesty branch, sampled at 100 TB like t_lsh_recall's.
    """
    # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
    # cleared per run): median 4.33 -> 4.66 s without it, IQR 0.23 s.
    sh = shingles(spark, sf_dir, wide=True).cache()
    sig = _minhash_sig(sh, 16).cache()

    # k=4's bands are a PREFIX of k=8's and k=16's, so the three
    # candidate sets are nested by construction: run the bucket
    # self-join ONCE over all 8 bands and keep each pair's MIN
    # colliding band — `min_band < nb` is exactly membership in
    # cand(nb) (distinct pairs over bands 0..nb-1). One join + one
    # aggregate replaces three self-joins + three distincts whose
    # largest (nb=8) repeated the other two as subsets.
    bd = _minhash_bands(sig, 8)
    ba, bb = bd.alias("a"), bd.alias("b")
    pairs_mb = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        )
        .agg(F.min(F.col("a.band")).alias("mb"))
        .cache()
    )

    exact = (
        _jaccard_pairs(_pair_counts(sh), F.broadcast(_counts(sh)), 0.5)
        .select("doc_a", "doc_b")
        .cache()
    )
    n_true = exact.agg(F.count(F.lit(1)).alias("n_true"))

    # All three k tiers count from the ONE min-band pair frame: the
    # candidate counts are conditional sums over mb, and the hit
    # counts come from a single semi-join-shaped inner join against
    # the exact ground truth (vs three cand caches x three joins).
    cnts = pairs_mb.agg(
        F.sum((F.col("mb") < 2).cast("long")).alias("c2"),
        F.sum((F.col("mb") < 4).cast("long")).alias("c4"),
        F.count(F.lit(1)).alias("c8"),
    )
    hits = (
        pairs_mb.join(
            exact,
            (pairs_mb.da == exact.doc_a) & (pairs_mb.db == exact.doc_b),
        )
        .agg(
            F.sum((F.col("mb") < 2).cast("long")).alias("h2"),
            F.sum((F.col("mb") < 4).cast("long")).alias("h4"),
            F.count(F.lit(1)).alias("h8"),
        )
    )
    stats = (
        cnts.crossJoin(F.broadcast(hits))
        .crossJoin(F.broadcast(n_true))
        .select(
            F.coalesce("c2", F.lit(0)).alias("c2"),
            F.coalesce("c4", F.lit(0)).alias("c4"),
            "c8",
            F.coalesce("h2", F.lit(0)).alias("h2"),
            F.coalesce("h4", F.lit(0)).alias("h4"),
            F.coalesce("h8", F.lit(0)).alias("h8"),
            "n_true",
        )
        .cache()
    )

    def row(k, nc, nh):
        return stats.select(
            F.lit(k).cast("long").alias("k"),
            F.col(nc).cast("long").alias("n_candidates"),
            F.col(nh).cast("long").alias("n_hits"),
            F.col("n_true").cast("long"),
            F.expr(
                f"{nh} * 1000000 div greatest(n_true, 1)"
            ).cast("long").alias("recall_ppm"),
        )

    return (
        row(4, "c2", "h2")
        .unionByName(row(8, "c4", "h4"))
        .unionByName(row(16, "c8", "h8"))
        .orderBy("k")
    )


@register(
    "t_prefix_filter_join",
    f"""
    WITH sh0 AS ({SHINGLES_FULL_SQL}),
    freq AS (SELECT s, count(*) AS df FROM sh0 GROUP BY s),
    sh AS (SELECT sh0.doc_id, sh0.s, freq.df FROM sh0
           JOIN freq ON freq.s = sh0.s WHERE freq.df <= 64),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
              FROM sh GROUP BY doc_id),
    ranked AS (SELECT doc_id, s,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY df, s) AS rn
               FROM sh),
    pref AS (SELECT r.doc_id, r.s FROM ranked r
             JOIN sizes z ON z.doc_id = r.doc_id
             WHERE r.rn <= z.n - (z.n + 1) // 2 + 1),
    cand_pref AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM pref a JOIN pref b
                    ON a.s = b.s AND a.doc_id < b.doc_id
                  JOIN sizes za ON za.doc_id = a.doc_id
                  JOIN sizes zb ON zb.doc_id = b.doc_id
                  WHERE 2 * least(za.n, zb.n) >= greatest(za.n, zb.n)),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(count(*) AS BIGINT) AS i
              FROM sh a JOIN sh b
                ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    ver AS (SELECT i.doc_a, i.doc_b FROM inter i
            JOIN sizes za ON za.doc_id = i.doc_a
            JOIN sizes zb ON zb.doc_id = i.doc_b
            WHERE 3 * i.i >= za.n + zb.n),
    verp AS (SELECT v.doc_a, v.doc_b FROM ver v
             WHERE EXISTS (SELECT 1 FROM cand_pref c
                           WHERE c.doc_a = v.doc_a AND c.doc_b = v.doc_b)),
    cf AS (SELECT CAST(count(*) AS BIGINT) AS c FROM inter),
    cp AS (SELECT CAST(count(*) AS BIGINT) AS c FROM cand_pref),
    vf AS (SELECT CAST(count(*) AS BIGINT) AS c FROM ver),
    vp AS (SELECT CAST(count(*) AS BIGINT) AS c FROM verp)
    SELECT method, n_candidates, n_verified, candidates_ppm_of_full
    FROM (
        SELECT 'full_posting' AS method, cf.c AS n_candidates,
               vf.c AS n_verified, CAST(1000000 AS BIGINT)
                   AS candidates_ppm_of_full
        FROM cf, vf
        UNION ALL
        SELECT 'prefix_filter', cp.c, vp.c,
               cp.c * 1000000 // greatest(cf.c, 1)
        FROM cp, vp, cf
    )
    ORDER BY method
    """,
)
def t_prefix_filter_join(spark, sf_dir):
    """Prefix-filtered set-similarity self-join (the PPJoin/AllPairs
    candidate-pruning trick, Xiao et al. 2008 / Bayardo et al. 2007):
    sort every document's df-capped shingle set by a GLOBAL total
    order (ascending document frequency — rarest first — with the
    shingle string as tiebreak) and index only each set's PREFIX of
    length n - ceil(tau*n) + 1 (tau = 0.5).  Two sets with Jaccard
    >= tau MUST share a prefix token under any shared total order, so
    joining prefixes instead of full posting lists is LOSSLESS above
    the threshold — the output proves it: n_verified is identical in
    both arms while prefix candidates are a fraction of the full
    posting join's (candidates_ppm_of_full), with the standard length
    filter 2*min(na,nb) >= max(na,nb) pruning size-incompatible pairs
    before verification.

    Scale: THE reason exact similarity joins survive 100 TB — the
    posting join's pair fan-out is sum(df^2) over shingles, and the
    prefix restriction cuts df to prefix-only occurrences (rare
    shingles, short postings) while ordering by ascending df makes
    prefixes maximally rare BY CONSTRUCTION.  One window rank per doc
    (doc_id-partitioned), two equi-joins, everything else 1-row
    broadcast arithmetic; the full-posting arm is computed here only
    as the measured counterfactual.
    """
    # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
    # cleared per run): median 3.11 -> 3.49 s without it, IQR 0.38 s.
    sh = (
        _df_capped(shingles(spark, sf_dir, bounded=False), "df")
        .select("doc_id", "s", "df")
        .cache()
    )
    sizes = _counts(sh)
    ranked = sh.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "s")),
    )
    pref = (
        ranked.join(sizes, "doc_id")
        .where(F.col("rn") <= F.expr("n - (n + 1) div 2 + 1"))
        .select("doc_id", "s", "n")
    )
    pa, pb = pref.alias("a"), pref.alias("b")
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cand_pref = (
        pa.join(
            pb,
            _shares_shingle()
            # length filter BEFORE the distinct: prunes size-incompatible
            # pairs while they are still join output, not a shuffled set
            & (2 * F.least("a.n", "b.n") >= F.greatest("a.n", "b.n")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .cache()  # consumed by the census count AND the verp semi-join
    )
    # consumed by both the candidate census and ver
    inter = _pair_counts(sh).cache()
    ver = (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .where(3 * F.col("i") >= F.col("na") + F.col("nb"))
        .select("doc_a", "doc_b")
    )
    verp = ver.join(cand_pref, ["doc_a", "doc_b"], "left_semi")

    def cnt(df, name):
        return df.agg(F.count("*").cast("long").alias(name))

    cf, cp = cnt(inter, "cf"), cnt(cand_pref, "cp")
    vf, vp = cnt(ver, "vf"), cnt(verp, "vp")
    full_row = (
        cf.crossJoin(F.broadcast(vf)).select(
            F.lit("full_posting").alias("method"),
            F.col("cf").alias("n_candidates"),
            F.col("vf").alias("n_verified"),
            F.lit(1000000).cast("long").alias("candidates_ppm_of_full"),
        )
    )
    pref_row = (
        cp.crossJoin(F.broadcast(vp))
        .crossJoin(F.broadcast(cf))
        .select(
            F.lit("prefix_filter").alias("method"),
            F.col("cp").alias("n_candidates"),
            F.col("vp").alias("n_verified"),
            F.expr("cp * 1000000 div greatest(cf, 1)")
            .cast("long")
            .alias("candidates_ppm_of_full"),
        )
    )
    return full_row.unionByName(pref_row).orderBy("method")
