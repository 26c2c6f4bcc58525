"""Training-set decontamination (SURVEY.md §2.12 extension).

Standard LLM-pipeline hygiene: before training, drop (or flag) training
documents that share long word n-grams with any evaluation/benchmark
document, so benchmark answers do not leak into the training corpus
(the n-gram-overlap decontamination procedure described in the GPT-3 and
PaLM papers, re-expressed as a Spark plan).

Here the "benchmark" split is deterministic — doc_id % 7 == 0 — and the
overlap unit is the word 8-gram, carried as an md5 digest end-to-end:

- 8-gram construction is a map-side array transform + explode (no shuffle);
- digests (32 chars) are what gets shuffled/joined, never the gram text —
  the same shuffle-shape argument as t_exact_dedup_digest;
- the benchmark gram set is bounded by the benchmark size (fixed, small at
  any corpus scale), so it is broadcast: the contamination check costs one
  map-side hash-join over the training grams plus one aggregation.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import f6, load_table

# word 8-grams per doc as md5 digests, distinct per doc
_GRAMS_SQL = r"""
    SELECT DISTINCT doc_id, lang,
           md5(array_to_string(w[i:i + 7], ' ')) AS g
    FROM (SELECT doc_id, lang, w, unnest(range(1, len(w) - 6)) AS i
          FROM (SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS w
                FROM documents))
"""


def _grams(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", "lang", F.split(F.lower("text"), r"\s+").alias("w")
        )
        .select(
            "doc_id",
            "lang",
            F.explode(
                # sequence(0, n) flips direction when n < 0, so guard short docs
                F.expr(
                    "CASE WHEN size(w) >= 8 THEN "
                    "transform(sequence(0, size(w) - 8),"
                    " i -> md5(concat_ws(' ', slice(w, i + 1, 8)))) "
                    "ELSE array() END"
                )
            ).alias("g"),
        )
        .distinct()
    )


@register(
    "t_decontaminate",
    f"""
    WITH grams AS ({_GRAMS_SQL}),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 7 = 0),
    train AS (SELECT * FROM grams WHERE doc_id % 7 <> 0)
    SELECT t.doc_id, t.lang, CAST(count(DISTINCT t.g) AS BIGINT) AS n_hits
    FROM train t JOIN bench b ON t.g = b.g
    GROUP BY t.doc_id, t.lang
    """,
)
def t_decontaminate(spark, sf_dir):
    """Flag training docs sharing any word 8-gram with the benchmark split
    (doc_id % 7 == 0); emit per-doc distinct-hit counts."""
    grams = _grams(spark, sf_dir)
    bench = (
        grams.where(F.col("doc_id") % 7 == 0).select("g").distinct()
    )
    train = grams.where(F.col("doc_id") % 7 != 0)
    # benchmark gram set is fixed-size at any corpus scale -> broadcast
    hits = train.join(F.broadcast(bench), "g")
    return hits.groupBy("doc_id", "lang").agg(
        F.count_distinct("g").cast("long").alias("n_hits")
    )


@register(
    "t_source_overlap",
    r"""
    WITH tok AS (
        SELECT source, doc_id,
               unnest(string_split_regex(lower(text), '\s+')) AS word,
               generate_subscripts(
                   string_split_regex(lower(text), '\s+'), 1) AS pos
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT source,
               md5(word || ' ' ||
                   lead(word, 1) OVER (PARTITION BY source, doc_id
                                       ORDER BY pos) || ' ' ||
                   lead(word, 2) OVER (PARTITION BY source, doc_id
                                       ORDER BY pos) || ' ' ||
                   lead(word, 3) OVER (PARTITION BY source, doc_id
                                       ORDER BY pos) || ' ' ||
                   lead(word, 4) OVER (PARTITION BY source, doc_id
                                       ORDER BY pos)) AS g
        FROM tok
        QUALIFY lead(word, 4) OVER (PARTITION BY source, doc_id
                                    ORDER BY pos) IS NOT NULL
    ),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM grams
              GROUP BY source),
    ov AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS shared
        FROM grams a JOIN grams b
          ON a.g = b.g AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT o.src_a, o.src_b, o.shared,
           round(o.shared * 1.0 / least(sa.n, sb.n), 6) + 0 AS containment
    FROM ov o
    JOIN sizes sa ON sa.source = o.src_a
    JOIN sizes sb ON sb.source = o.src_b
    ORDER BY containment DESC, o.src_a, o.src_b
    LIMIT 20
    """,
)
def t_source_overlap(spark, sf_dir):
    """Cross-source 5-gram containment matrix: for each source pair,
    shared distinct 5-grams over the SMALLER source's gram count — the
    'is feed B a scrape of feed A' provenance question
    (t_decontaminate checks a corpus against one benchmark;
    t_jsd_sources compares unigram DISTRIBUTIONS — containment of
    exact 5-grams catches verbatim copying that distribution
    similarity misses entirely). Top-20 most-contained pairs.

    5-grams build from positional leads inside one (source, doc)
    clustering and dedup to 32-char digests per source (text never
    joins); the pair overlap is a gram-keyed equi-join of digest sets
    with a<b canonicalization, and containment divides exact counts
    against the broadcast size table. Work scales with shared-gram
    postings, not source-pair count.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        "doc_id",
        F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos", "word"),
    )
    w = Window.partitionBy("source", "doc_id").orderBy("pos")
    gram = F.md5(
        F.concat_ws(
            " ",
            F.col("word"),
            F.lead("word", 1).over(w),
            F.lead("word", 2).over(w),
            F.lead("word", 3).over(w),
            F.lead("word", 4).over(w),
        )
    )
    grams = (
        words.select(
            "source",
            gram.alias("g"),
            F.lead("word", 4).over(w).alias("w4"),
        )  # gram + filter column in ONE window stage: filtering first
        # would re-evaluate the leads over the shrunken partition and
        # fabricate short grams at each doc's tail
        .where(F.col("w4").isNotNull())
        .select("source", "g")
        .distinct()
    )
    sizes = grams.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    a = grams.alias("ga")
    b = grams.alias("gb")
    ov = (
        a.join(
            b,
            (F.col("ga.g") == F.col("gb.g"))
            & (F.col("ga.source") < F.col("gb.source")),
        )
        .groupBy(
            F.col("ga.source").alias("src_a"), F.col("gb.source").alias("src_b")
        )
        .agg(F.count("*").cast("long").alias("shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        ov.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared",
            f6(F.col("shared") * 1.0 / F.least(F.col("na"), F.col("nb"))).alias(
                "containment"
            ),
        )
        .orderBy(F.col("containment").desc(), "src_a", "src_b")
        .limit(20)
    )


@register(
    "t_decontaminate_fuzzy",
    f"""
    WITH grams AS ({_GRAMS_SQL}),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 7 = 0),
    train AS (SELECT * FROM grams WHERE doc_id % 7 <> 0),
    per_doc AS (
        SELECT t.doc_id, t.lang,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(count(b.g) AS BIGINT) AS n_hits
        FROM train t LEFT JOIN bench b ON t.g = b.g
        GROUP BY t.doc_id, t.lang
    )
    SELECT doc_id, lang, n_grams, n_hits,
           round(n_hits * 1.0 / n_grams, 6) + 0 AS overlap_frac,
           CAST(CASE WHEN n_hits * 10 >= n_grams THEN 1 ELSE 0 END AS BIGINT)
               AS contaminated
    FROM per_doc
    WHERE n_hits > 0
    """,
)
def t_decontaminate_fuzzy(spark, sf_dir):
    """Threshold decontamination — the production refinement of
    t_decontaminate's any-hit rule: a training doc is contaminated only
    when >= 10% of its DISTINCT 8-grams appear in the benchmark split.
    The any-hit rule false-positives on boilerplate (one shared
    license-header gram kills an innocent doc); the PaLM/Llama-style
    fraction threshold keeps those and still catches real leaks, and
    emitting the fraction lets the pipeline tune the cut offline.

    Same shuffle discipline as t_decontaminate: grams travel as 32-char
    digests; the benchmark gram set is bounded by the (fixed) benchmark
    size so it broadcasts, making the screen one map-side hash probe per
    training gram + a per-doc fold. The fraction compares as integer
    cross-multiplication (n_hits*10 >= n_grams) — no float threshold
    boundary to disagree across engines.
    """
    grams = _grams(spark, sf_dir)
    bench = (
        grams.where(F.col("doc_id") % 7 == 0)
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = grams.where(F.col("doc_id") % 7 != 0)
    per_doc = (
        train.join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.count("hit").cast("long").alias("n_hits"),
        )
    )
    return per_doc.where(F.col("n_hits") > 0).select(
        "doc_id",
        "lang",
        "n_grams",
        "n_hits",
        f6(F.col("n_hits") * 1.0 / F.col("n_grams")).alias("overlap_frac"),
        F.when(F.col("n_hits") * 10 >= F.col("n_grams"), 1)
        .otherwise(0)
        .cast("long")
        .alias("contaminated"),
    )


@register(
    "t_source_sketch_jaccard",
    r"""
    WITH tok AS (
        SELECT source, doc_id,
               unnest(string_split_regex(lower(text), '\s+')) AS word,
               generate_subscripts(
                   string_split_regex(lower(text), '\s+'), 1) AS pos
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT source,
               md5(word || ' ' ||
                   lead(word, 1) OVER (PARTITION BY source, doc_id
                                       ORDER BY pos) || ' ' ||
                   lead(word, 2) OVER (PARTITION BY source, doc_id
                                       ORDER BY pos)) AS g
        FROM tok
        QUALIFY lead(word, 2) OVER (PARTITION BY source, doc_id
                                    ORDER BY pos) IS NOT NULL
    ),
    bk AS (
        SELECT source, g FROM (
            SELECT source, g,
                   row_number() OVER (PARTITION BY source ORDER BY g) AS rn
            FROM grams
        ) WHERE rn <= 64
    ),
    srcs AS (SELECT DISTINCT source FROM grams),
    prs AS (
        SELECT a.source AS src_a, b.source AS src_b
        FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    contrib AS (
        SELECT p.src_a, p.src_b, k.g,
               max(CASE WHEN k.source = p.src_a THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN k.source = p.src_b THEN 1 ELSE 0 END) AS in_b
        FROM prs p
        JOIN bk k ON k.source IN (p.src_a, p.src_b)
        GROUP BY p.src_a, p.src_b, k.g
    ),
    est AS (
        SELECT src_a, src_b,
               round(CAST(sum(in_a * in_b) AS DOUBLE) / count(*), 6) + 0
                   AS est_jaccard
        FROM (
            SELECT src_a, src_b, in_a, in_b,
                   row_number() OVER (PARTITION BY src_a, src_b
                                      ORDER BY g) AS rn
            FROM contrib
        ) WHERE rn <= 64
        GROUP BY src_a, src_b
    ),
    sizes AS (SELECT source, count(*) AS n FROM grams GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               count(*) AS shared
        FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT p.src_a, p.src_b, e.est_jaccard,
           round(CAST(coalesce(i.shared, 0) AS DOUBLE)
                 / (sa.n + sb.n - coalesce(i.shared, 0)), 6) + 0
               AS exact_jaccard,
           round(abs(e.est_jaccard
                     - CAST(coalesce(i.shared, 0) AS DOUBLE)
                       / (sa.n + sb.n - coalesce(i.shared, 0))), 6) + 0
               AS abs_err
    FROM prs p
    JOIN est e ON e.src_a = p.src_a AND e.src_b = p.src_b
    JOIN sizes sa ON sa.source = p.src_a
    JOIN sizes sb ON sb.source = p.src_b
    LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
    """,
)
def t_source_sketch_jaccard(spark, sf_dir):
    """Bottom-k sketch estimate of cross-source shingle Jaccard, with the
    exact answer as an honesty column — corpus-overlap estimation at
    sketch cost (Broder 1997's bottom-k minhash, public).

    `t_source_overlap` answers "is feed B a scrape of feed A" EXACTLY by
    joining full distinct-gram sets — at 100 TB that join moves billions
    of digests per source pair. The curation question usually only needs
    an ESTIMATE ("which source pairs overlap enough to dedup jointly?"),
    and the bottom-k sketch answers it from k=64 digests per source: the
    k smallest gram-md5s form a uniform sample of each source's gram
    set, J_est = |{bottom-64 of the UNION} present in both sketches|/64.
    Each source compresses to a constant-size signature (64 x 32 chars);
    pair comparison is sketch x sketch — no corpus data moves at all.
    The estimate is unbiased with std ~ sqrt(J(1-J)/k) ~= 0.03 at J=0.05;
    `abs_err` against the exact join (computable at test scale) shows
    that noise honestly per pair.

    Scale design: sketches build in one (source)-keyed aggregation over
    distinct (source, gram-digest) pairs (text never shuffles); the pair
    stage joins 190 pairs x 64 rows — driver-trivial forever, because
    it scales with the NUMBER OF SOURCES, not corpus bytes. The exact
    branch exists as the honesty control and would be dropped at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        "doc_id",
        F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos", "word"),
    )
    w = Window.partitionBy("source", "doc_id").orderBy("pos")
    gram = F.md5(
        F.concat_ws(
            " ",
            F.col("word"),
            F.lead("word", 1).over(w),
            F.lead("word", 2).over(w),
        )
    )
    grams = (
        words.select(
            "source",
            gram.alias("g"),
            F.lead("word", 2).over(w).alias("w2"),
        )
        .where(F.col("w2").isNotNull())
        .select("source", "g")
        .distinct()
    )
    wbk = Window.partitionBy("source").orderBy("g")
    bk = (
        grams.withColumn("rn", F.row_number().over(wbk))
        .where(F.col("rn") <= 64)
        .select("source", "g")
    )
    srcs = grams.select("source").distinct()
    prs = (
        srcs.alias("a")
        .join(
            srcs.alias("b"),
            F.col("a.source") < F.col("b.source"),
        )
        .select(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
    )
    contrib = (
        F.broadcast(prs)
        .join(
            bk,
            (F.col("source") == F.col("src_a"))
            | (F.col("source") == F.col("src_b")),
        )
        .groupBy("src_a", "src_b", "g")
        .agg(
            F.max(
                F.when(F.col("source") == F.col("src_a"), 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("source") == F.col("src_b"), 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    wu = Window.partitionBy("src_a", "src_b").orderBy("g")
    est = (
        contrib.withColumn("rn", F.row_number().over(wu))
        .where(F.col("rn") <= 64)
        .groupBy("src_a", "src_b")
        .agg(
            (
                F.sum(F.col("in_a") * F.col("in_b")).cast("double")
                / F.count("*")
            ).alias("est_raw")
        )
        .select("src_a", "src_b", f6(F.col("est_raw")).alias("est_jaccard"))
    )
    sizes = grams.groupBy("source").agg(F.count("*").alias("n"))
    inter = (
        grams.alias("x")
        .join(
            grams.alias("y"),
            (F.col("x.g") == F.col("y.g"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("src_a"), F.col("y.source").alias("src_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    exact_raw = F.coalesce(F.col("shared"), F.lit(0)).cast("double") / (
        F.col("na") + F.col("nb") - F.coalesce(F.col("shared"), F.lit(0))
    )
    return (
        prs.join(est, ["src_a", "src_b"])
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"),
                                     F.col("n").alias("na"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"),
                                     F.col("n").alias("nb"))),
            "src_b",
        )
        .join(inter, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "est_jaccard",
            f6(exact_raw).alias("exact_jaccard"),
            f6(F.abs(F.col("est_jaccard") - exact_raw)).alias("abs_err"),
        )
    )
