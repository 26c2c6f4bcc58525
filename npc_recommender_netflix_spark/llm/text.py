"""§2.9 LLM-data-pipeline: text analysis over the `documents` corpus.

All operators are pure DataFrame expressions (no Python UDFs) — tokenize/
count/score run inside whole-stage codegen, and every shuffle is keyed on
doc_id or token (both high-cardinality, unskewed). At 100 TB:
- tokenize/explode is map-side only (no shuffle until the count);
- word counts are partial-aggregated before the shuffle (combiner);
- tf-idf's df table is tiny (vocab-sized) -> broadcast back to tf.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import f6, load_table, shared_frame

TOKENS_SQL = r"""
    SELECT doc_id, lang, unnest(string_split_regex(lower(text), '\s+')) AS word
    FROM documents
"""


def tokens(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
    )


@register(
    "t_exact_dedup",
    "SELECT lang, count(DISTINCT text) AS cnt FROM documents GROUP BY lang",
)
def t_exact_dedup(spark, sf_dir):
    """Exact dedup by (lang, text) hash-shuffle; duplicates injected via
    self-union. The dedup key includes lang on purpose: at sf0.1 the corpus
    contains natural duplicate texts ACROSS languages, so a text-only
    dropDuplicates keeps an arbitrary-language survivor (nondeterministic);
    keying by (lang, text) makes the result well-defined at every sf."""
    docs = load_table(spark, sf_dir, "documents")
    doubled = docs.unionByName(docs)
    return doubled.dropDuplicates(["lang", "text"]).groupBy("lang").agg(
        F.count("*").alias("cnt")
    )


@register(
    "t_incremental_dedup",
    """
    WITH corpus AS (SELECT md5(text) AS digest FROM documents
                    WHERE doc_id % 5 <> 0 GROUP BY 1),
    batch AS (SELECT doc_id, lang, md5(text) AS digest FROM documents
              WHERE doc_id % 5 = 0)
    SELECT b.lang,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(count(*) FILTER (WHERE c.digest IS NULL) AS BIGINT) AS n_new,
           CAST(count(*) FILTER (WHERE c.digest IS NOT NULL) AS BIGINT)
               AS n_dup_vs_corpus
    FROM batch b LEFT JOIN corpus c ON b.digest = c.digest
    GROUP BY b.lang
    """,
)
def t_incremental_dedup(spark, sf_dir):
    """Incremental dedup: a new ingest batch against the existing corpus.

    The daily-pipeline shape: the corpus is already deduped and only its
    DIGEST SET is consulted — never its text — so the new batch (here the
    deterministic doc_id%5 slice stands in for "today's crawl") left-joins
    the corpus digests and keeps rows with no match. Per-language census of
    batch size / genuinely-new / already-seen.

    At 100 TB the corpus digest set is the only state the job carries
    round to round: stored as its own compact parquet (32-char digests,
    ~billions of rows << the corpus), the anti-join shuffles digests not
    documents; when even that shuffle is too hot, a bloom filter built
    over the digest column (see j_bloom_runtime_filter) prefilters
    map-side and only bloom-positives reach the join. Spark's left join
    here lets AQE choose broadcast vs shuffle from the measured digest-set
    size.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.where(F.col("doc_id") % 5 != 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    batch = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id", "lang", F.md5("text").alias("digest")
    )
    joined = batch.join(corpus, "digest", "left")
    return joined.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_batch"),
        F.count_if(F.col("seen").isNull()).cast("long").alias("n_new"),
        F.count_if(F.col("seen").isNotNull()).cast("long").alias("n_dup_vs_corpus"),
    )


@register(
    "t_exact_dedup_digest",
    "SELECT lang, count(DISTINCT md5(text)) AS cnt FROM documents GROUP BY lang",
)
def t_exact_dedup_digest(spark, sf_dir):
    """Exact dedup keyed by md5 digest — the 100 TB shuffle shape.

    t_exact_dedup groups on the raw text, which shuffles the whole corpus as
    the grouping key; here the dedup key is (lang, md5(text)), so the
    shuffle carries a 32-char digest per row instead of the document. Same
    duplicate-injection (self-union) and same per-language counts; md5 is
    identical in both engines so the oracle is exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    doubled = docs.unionByName(docs)
    return (
        doubled.select("lang", F.md5("text").alias("digest"))
        .dropDuplicates(["lang", "digest"])
        .groupBy("lang")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "t_tokenize_wc",
    f"""
    SELECT word, count(*) AS cnt FROM ({TOKENS_SQL})
    GROUP BY word ORDER BY cnt DESC, word LIMIT 20
    """,
)
def t_tokenize_wc(spark, sf_dir):
    return (
        tokens(spark, sf_dir)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(20)
    )


@register(
    "t_doc_stats",
    """
    SELECT lang, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def t_doc_stats(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        f6(F.avg("n_chars")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "t_tfidf",
    f"""
    WITH tok AS ({TOKENS_SQL}),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM tok
           WHERE doc_id < 50 GROUP BY 1, 2),
    df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY word),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.word, tf.tf,
               round(tf.tf * ln(n.n * 1.0 / df.df), 6) AS score
        FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
    )
    SELECT doc_id, word AS top_term, tf, score FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, word) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
)
def t_tfidf(spark, sf_dir):
    """TF-IDF top term per doc (sample doc_id < 50; idf over full corpus).

    df is vocabulary-sized -> broadcast join back onto tf at any scale.
    """
    tok = tokens(spark, sf_dir)
    tf = (
        tok.where(F.col("doc_id") < 50)
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df = tok.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n = load_table(spark, sf_dir, "documents").agg(F.count("*").alias("n"))
    scored = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            f6(F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df"))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("word").alias("top_term"), "tf", "score")
    )


def _bigram_pairs(spark, sf_dir):
    """(w1, w2): every positional word bigram of every document, with
    repeats — map-side via array transform, no self-join shuffle."""
    from .dedup import bigram_array

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.split(F.lower("text"), r"\s+").alias("w"))
        .select(
            F.explode(bigram_array("struct(w[i] AS w1, w[i + 1] AS w2)")).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )


@register(
    "t_ngram_bigram",
    r"""
    WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
                  FROM documents),
    pos AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks),
    bg AS (SELECT w[i] AS w1, w[i + 1] AS w2 FROM pos)
    SELECT w1, w2, count(*) AS cnt FROM bg
    GROUP BY w1, w2 ORDER BY cnt DESC, w1, w2 LIMIT 20
    """,
)
def t_ngram_bigram(spark, sf_dir):
    bg = _bigram_pairs(spark, sf_dir)
    return (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "w1", "w2")
        .limit(20)
    )


_STOPWORDS = ("a", "the", "and", "or", "of", "in", "to")
_SW_SQL = "['a', 'the', 'and', 'or', 'of', 'in', 'to']"


@register(
    "t_lang_id",
    rf"""
    WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
               FROM documents)
    SELECT doc_id,
           round(len(list_filter(w, x -> list_contains({_SW_SQL}, x))) * 1.0 / len(w), 6)
               AS stop_ratio,
           CASE WHEN len(list_filter(w, x -> list_contains({_SW_SQL}, x))) * 1.0 / len(w)
                     > 0.02
                THEN 'en-like' ELSE 'unknown' END AS pred_lang
    FROM t
    """,
)
def t_lang_id(spark, sf_dir):
    """Language-ID heuristic: function-word ratio (n-gram LID stub).

    A real 100 TB LID would be a char-n-gram model broadcast to a pandas
    UDF; the Spark plumbing (per-doc scoring, no shuffle) is identical.
    """
    docs = load_table(spark, sf_dir, "documents")
    sw = ", ".join(f"'{w}'" for w in _STOPWORDS)
    w = F.split(F.lower("text"), r"\s+")
    nstop = F.expr(
        f"size(filter(split(lower(text), '\\\\s+'), x -> array_contains(array({sw}), x)))"
    )
    ratio = nstop * 1.0 / F.size(w)
    return docs.select(
        "doc_id",
        f6(ratio).alias("stop_ratio"),
        F.when(ratio > 0.02, "en-like").otherwise("unknown").alias("pred_lang"),
    )


@register(
    "t_quality_score",
    rf"""
    WITH t AS (SELECT doc_id, n_chars,
                      string_split_regex(lower(text), '\s+') AS w FROM documents)
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           round(list_sum(list_transform(w, x -> CAST(length(x) AS DOUBLE))) / len(w), 6)
               AS mean_word_len,
           round(len(list_distinct(w)) * 1.0 / len(w), 6) AS distinct_ratio,
           round(len(list_filter(w, x -> list_contains({_SW_SQL}, x))) * 1.0 / len(w), 6)
               AS stop_ratio,
           CASE WHEN len(w) >= 20 AND len(w) <= 1000
                     AND len(list_distinct(w)) * 1.0 / len(w) > 0.3
                THEN 'keep' ELSE 'drop' END AS verdict
    FROM t
    """,
)
def t_quality_score(spark, sf_dir):
    """Heuristic quality scoring (length / lexical diversity / stopwords) —
    the standard pretraining-corpus filter shape, all JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    sw = ", ".join(f"'{w}'" for w in _STOPWORDS)
    docs = docs.withColumn("w", F.split(F.lower("text"), r"\s+"))
    n = F.size("w")
    nd = F.expr("size(array_distinct(w))")
    nstop = F.expr(f"size(filter(w, x -> array_contains(array({sw}), x)))")
    wordlen_sum = F.expr(
        "aggregate(w, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(length(x) AS DOUBLE))"
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        f6(wordlen_sum / n).alias("mean_word_len"),
        f6(nd * 1.0 / n).alias("distinct_ratio"),
        f6(nstop * 1.0 / n).alias("stop_ratio"),
        F.when((n >= 20) & (n <= 1000) & (nd * 1.0 / n > 0.3), "keep")
        .otherwise("drop")
        .alias("verdict"),
    )


@register(
    "t_token_count",
    r"""
    SELECT doc_id,
           CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
                AS BIGINT) AS bpe_ish_tokens,
           round(length(text) * 1.0
                 / len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')), 6)
               AS chars_per_token
    FROM documents
    """,
)
def t_token_count(spark, sf_dir):
    """Token counting: whitespace + a BPE-ish regex segmentation."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split(F.lower("text"), r"\s+"))
    # NB: F.lit pattern, not F.expr — Spark SQL string literals consume \s.
    bpe = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0))
    )
    return docs.select(
        "doc_id",
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_ish_tokens"),
        f6(F.length("text") * 1.0 / bpe).alias("chars_per_token"),
    )


@register(
    "t_canonical_dedup",
    """
    SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang
    FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
    GROUP BY text
    """,
)
def t_canonical_dedup(spark, sf_dir):
    """Dedup with DETERMINISTIC survivor selection: keep min(doc_id) per
    text, and report THAT row's lang (min_by/arg_min on the unique id).
    `dropDuplicates` keeps an arbitrary row — wrong when provenance matters,
    and at sf0.1 duplicate texts genuinely span languages, so any_value/
    first(lang) would be a latent cross-engine mismatch.
    """
    docs = load_table(spark, sf_dir, "documents")
    doubled = docs.unionByName(docs)
    return doubled.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.min_by("lang", "doc_id").alias("lang")
    ).select("doc_id", "lang")


@register(
    "t_chunk_docs",
    r"""
    SELECT doc_id, CAST(s / 40 AS BIGINT) AS chunk_idx,
           CAST(len(w[s + 1 : s + 50]) AS BIGINT) AS n_toks,
           md5(array_to_string(w[s + 1 : s + 50], ' ')) AS chunk_digest
    FROM (SELECT doc_id, w, unnest(range(0, len(w), 40)) AS s
          FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
                FROM documents))
    """,
)
def t_chunk_docs(spark, sf_dir):
    """Fixed-size token chunking with overlap (50-token windows, stride 40)
    — the context-window packing step of a pretraining pipeline.

    Chunk starts come from sequence(0, n-1, 40) so chunking is a map-side
    explode (no shuffle at all); each chunk is emitted as (index, token
    count, md5 digest) — the digest stands in for the chunk text so the
    result stays small and driver-hashable while still pinning exact
    content equality across engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower("text"), r"\s+")
    chunked = docs.select("doc_id", w.alias("w")).select(
        "doc_id",
        "w",
        F.explode(F.expr("sequence(0, size(w) - 1, 40)")).alias("s"),
    )
    chunk = F.slice(F.col("w"), F.col("s") + 1, 50)
    return chunked.select(
        "doc_id",
        (F.col("s") / 40).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_toks"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_digest"),
    )


@register(
    "t_stratified_sample",
    """
    SELECT lang, count(*) AS n_sampled,
           round(avg(n_chars), 6) AS avg_chars
    FROM documents
    WHERE substring(md5(text), 1, 1) IN ('0', '1')
    GROUP BY lang
    """,
)
def t_stratified_sample(spark, sf_dir):
    """Deterministic ~1/8 content-hash sample with per-language accounting.

    Unlike TABLESAMPLE/rand(), an md5-prefix predicate selects the SAME
    rows on any engine, any cluster size, any partitioning — which is what
    makes a training-data sample reproducible and incrementally extensible
    (widen the prefix set to grow the sample without resampling). The
    filter is a pushable scan predicate; per-stratum stats are one
    partial+final aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where(F.substring(F.md5("text"), 1, 1).isin("0", "1"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"), f6(F.avg("n_chars")).alias("avg_chars"))
    )


@register(
    "t_span_dedup",
    r"""
    WITH chunks AS (
        SELECT doc_id, md5(array_to_string(w[s + 1 : s + 40], ' ')) AS d
        FROM (SELECT doc_id, w, unnest(range(0, len(w), 40)) AS s
              FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
                    FROM documents))
    ),
    owner AS (SELECT d, min(doc_id) AS first_doc FROM chunks GROUP BY d)
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (WHERE c.doc_id > o.first_doc) AS BIGINT)
               AS n_dup_chunks,
           round(count(*) FILTER (WHERE c.doc_id > o.first_doc) * 1.0
                 / count(*), 6) AS dup_ratio
    FROM chunks c JOIN owner o ON c.d = o.d
    GROUP BY c.doc_id
    """,
)
def t_span_dedup(spark, sf_dir):
    """Span-level dedup census — the RefinedWeb line-dedup analog.

    Document-level dedup misses partial copies (a doc that quotes half of
    another); span dedup tiles each document into non-overlapping 40-token
    chunks, digests them, and marks a chunk duplicated when the SAME
    digest already occurs in a lower doc_id (first occurrence owns the
    span — the same deterministic survivor rule as the dedup ladder).
    Output: per-doc chunk counts and duplicated-span ratio, the signal a
    pipeline uses to strip or drop partially-copied documents.

    At 100 TB: chunks shuffle as 32-char digests (never text), the
    owner table is digest-keyed and merges map-side partials, and the
    census join is digest-equi — the same linear shape as
    t_exact_dedup_digest, just at sub-document granularity.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower("text"), r"\s+")
    chunks = (
        docs.select("doc_id", w.alias("w"))
        .select(
            "doc_id",
            F.explode(F.expr("sequence(0, size(w) - 1, 40)")).alias("s"),
            "w",
        )
        .select(
            "doc_id",
            F.md5(F.array_join(F.slice(F.col("w"), F.col("s") + 1, 40), " ")).alias(
                "d"
            ),
        )
    )
    owner = chunks.groupBy("d").agg(F.min("doc_id").alias("first_doc"))
    joined = chunks.join(owner, "d")
    dup = F.count_if(F.col("doc_id") > F.col("first_doc"))
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        dup.cast("long").alias("n_dup_chunks"),
        f6(dup * 1.0 / F.count("*")).alias("dup_ratio"),
    )


@register(
    "t_zipf_fit",
    r"""
    WITH freq AS (
        SELECT lang, word, count(*) AS cnt
        FROM (SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS word
              FROM documents)
        GROUP BY lang, word
    ),
    ranked AS (
        SELECT lang, cnt,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY cnt DESC, word) AS rn
        FROM freq
    )
    SELECT lang, round(regr_slope(ln(cnt), ln(rn)), 6) AS zipf_slope,
           round(regr_r2(ln(cnt), ln(rn)), 6) AS r2,
           CAST(count(*) AS BIGINT) AS vocab
    FROM ranked GROUP BY lang
    """,
)
def t_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency fit per language — a corpus-health signal.

    Natural language follows ln(freq) ~ a + s*ln(rank) with s near -1;
    corpora dominated by templates/spam/machine text deviate. Per
    language: token frequencies, rank (freq desc, word tiebreak for
    cross-engine determinism), then least-squares slope + R^2 via the
    built-in regr_* aggregates (one partial+final pass, identical
    definition in both engines).

    At 100 TB the freq table is vocabulary-sized per language (not
    corpus-sized) after the map-side-combined count, and the rank window
    shuffles once on lang.
    """
    tok = tokens(spark, sf_dir)
    freq = tok.groupBy("lang", "word").agg(F.count("*").alias("cnt"))
    rw = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "word")
    ranked = freq.withColumn("rn", F.row_number().over(rw))
    return ranked.groupBy("lang").agg(
        f6(F.expr("regr_slope(ln(cnt), ln(rn))")).alias("zipf_slope"),
        f6(F.expr("regr_r2(ln(cnt), ln(rn))")).alias("r2"),
        F.count("*").cast("long").alias("vocab"),
    )


@register(
    "t_boilerplate_ngrams",
    r"""
    WITH grams AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS g
        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
              FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
                    FROM documents))
    ),
    common AS (
        SELECT g FROM grams GROUP BY g
        HAVING count(*) >= 0.08 * (SELECT count(*) FROM documents)
    )
    SELECT gr.doc_id,
           round(count(c.g) * 1.0 / count(*), 6) AS bp_ratio,
           count(c.g) * 1.0 / count(*) > 0.04 AS is_boilerplated
    FROM grams gr LEFT JOIN common c ON gr.g = c.g
    GROUP BY gr.doc_id
    """,
)
def t_boilerplate_ngrams(spark, sf_dir):
    """Cross-document boilerplate detection (the C4-style removal prestep).

    t_repetition_filter flags repetition WITHIN a document; this flags
    n-grams shared ACROSS the corpus — headers, footers, templates. A
    bigram appearing in >= 25% of all documents (scale-invariant scalar
    subquery, no tuned absolute count) is "boilerplate"; each document is
    scored by the fraction of its distinct bigrams that are boilerplate.

    At 100 TB: the gram->doc-frequency aggregate shuffles (doc, gram)
    digests once with map-side partial distinct; the common-gram set is
    tiny by construction (bounded by grams that fit 25% of the corpus —
    vocabulary-scale, not corpus-scale) so the scoring join broadcasts.
    Docs are scored independently afterward — one doc_id shuffle.
    """
    from .dedup import bigram_array

    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower("text"), r"\s+")
    grams = (
        docs.select("doc_id", w.alias("w"))
        .select("doc_id", F.explode(bigram_array()).alias("g"))
        .distinct()
    )
    total = docs.agg(F.count("*").alias("n_docs"))
    common = (
        grams.groupBy("g")
        .agg(F.count("*").alias("nd"))
        .crossJoin(F.broadcast(total))
        .where(F.col("nd") >= 0.08 * F.col("n_docs"))
        .select("g")
        .withColumn("hit", F.lit(1))
    )
    ratio = F.count("hit") * 1.0 / F.count("*")
    return (
        grams.join(F.broadcast(common), "g", "left")
        .groupBy("doc_id")
        .agg(
            f6(ratio).alias("bp_ratio"),
            (ratio > 0.04).alias("is_boilerplated"),
        )
    )


@register(
    "t_repetition_filter",
    r"""
    WITH big AS (
        SELECT doc_id, w[i] || ' ' || w[i + 1] AS s
        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
              FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
                    FROM documents))
    ),
    freq AS (SELECT doc_id, s, count(*) AS c FROM big GROUP BY 1, 2),
    agg AS (SELECT doc_id, max(c) AS max_c, sum(c) AS n FROM freq GROUP BY doc_id)
    SELECT doc_id, round(max_c * 1.0 / n, 6) AS rep_ratio,
           max_c * 1.0 / n > 0.1 AS is_repetitive
    FROM agg
    """,
)
def t_repetition_filter(spark, sf_dir):
    """Internal-repetition quality signal: max bigram frequency within a
    document over its total bigram count. Boilerplate/spam documents repeat
    the same n-grams; > 0.1 flags them for removal. Bigrams are generated
    map-side (array transform, NON-distinct — multiplicity is the signal);
    the per-doc aggregate shuffles on (doc_id, bigram) then doc_id only.
    """
    from .dedup import bigram_array

    docs = load_table(spark, sf_dir, "documents")
    big = docs.select(
        "doc_id",
        F.split(F.lower("text"), r"\s+").alias("w"),
    ).select("doc_id", F.explode(bigram_array()).alias("s"))
    freq = big.groupBy("doc_id", "s").agg(F.count("*").alias("c"))
    agg = freq.groupBy("doc_id").agg(F.max("c").alias("max_c"), F.sum("c").alias("n"))
    ratio = F.col("max_c") * 1.0 / F.col("n")
    return agg.select(
        "doc_id", f6(ratio).alias("rep_ratio"), (ratio > 0.1).alias("is_repetitive")
    )


@register(
    "t_scrub_pii",
    r"""
    SELECT doc_id,
           md5(regexp_replace(
                 regexp_replace(text, '[a-z0-9.\-]+@[a-z0-9\-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                 '\bcustomer\b', '<REDACTED>', 'g')) AS scrubbed_digest,
           CAST(len(regexp_extract_all(text, '[a-z0-9.\-]+@[a-z0-9\-]+\.[a-z]{2,}'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '\bcustomer\b')) AS BIGINT) AS n_redacted
    FROM documents
    """,
)
def t_scrub_pii(spark, sf_dir):
    """PII scrubbing: regex redaction with per-document hit accounting.

    Two pattern classes: a real email regex (zero hits on this synthetic
    corpus — the machinery is what's exercised) and a surrogate term
    standing in for a PII dictionary (real hits, so replacement and counts
    are non-trivially checked). The scrubbed text is emitted as an md5
    digest: content equality is verified cross-engine without shipping the
    corpus through the driver hasher. Pure regexp_replace — whole-stage
    codegen, no shuffle, linear scale-out.
    """
    docs = load_table(spark, sf_dir, "documents")
    email = F.lit(r"[a-z0-9.\-]+@[a-z0-9\-]+\.[a-z]{2,}")
    term = F.lit(r"\bcustomer\b")
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, F.lit("<EMAIL>")), term, F.lit("<REDACTED>")
    )
    return docs.select(
        "doc_id",
        F.md5(scrubbed).alias("scrubbed_digest"),
        F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9.\\-]+@[a-z0-9\\-]+\\.[a-z]{2,}', 0)"))
        .cast("long")
        .alias("n_emails"),
        F.size(F.expr(r"regexp_extract_all(text, '\\bcustomer\\b', 0)")).cast("long").alias(
            "n_redacted"
        ),
    )


@register(
    "t_unigram_nll",
    f"""
    WITH tok AS ({TOKENS_SQL}),
    uni AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
    tot AS (SELECT count(*) AS n FROM tok)
    SELECT t.doc_id,
           round(ln(tot.n * 1.0) - avg(ln(uni.c * 1.0)), 6) + 0.0 AS nll,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM tok t JOIN uni ON t.word = uni.word CROSS JOIN tot
    WHERE t.doc_id < 1000
    GROUP BY t.doc_id, tot.n
    """,
)
def t_unigram_nll(spark, sf_dir):
    """Perplexity-proxy quality score: per-doc average negative log
    likelihood under the corpus's own unigram LM — avg(-ln p(w)) =
    ln(N) - avg(ln count(w)). High nll = rare-token-heavy (noisy or
    low-resource) docs; the LM-free cousin of model-based quality filters.

    Plan shape: the unigram table is vocabulary-sized (sublinear in corpus)
    and broadcasts back onto the token stream, the corpus total is a
    single-row broadcast cross join, and the per-doc rollup is one doc_id
    shuffle of scored tokens. Only the scored subset (doc_id < 1000) flows
    into the join; the LM aggregates over the FULL corpus map-side. The
    final subtraction happens once per doc after the 6dp round, so float
    association matches the oracle.
    """
    tok = tokens(spark, sf_dir).drop("lang")
    uni = tok.groupBy("word").agg(F.count("*").alias("c"))
    tot = tok.agg(F.count("*").alias("n"))
    scored = (
        tok.where(F.col("doc_id") < 1000)
        .join(F.broadcast(uni), "word")
        .crossJoin(F.broadcast(tot))
    )
    return (
        scored.groupBy("doc_id", "n")
        .agg(
            F.avg(F.log(F.col("c") * 1.0)).alias("avg_lc"),
            F.count("*").cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id",
            (F.round(F.log(F.col("n") * 1.0) - F.col("avg_lc"), 6) + 0.0).alias("nll"),
            "n_tokens",
        )
    )


@register(
    "t_bigram_nll",
    rf"""
    WITH w AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents
    ),
    bigr AS (
        SELECT doc_id, w[i] AS prev, w[i] || ' ' || w[i + 1] AS bg
        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM w)
    ),
    cb AS (SELECT bg, count(*) AS cb FROM bigr GROUP BY bg),
    cp AS (SELECT prev, count(*) AS cp FROM bigr GROUP BY prev),
    v AS (SELECT count(DISTINCT word) AS v FROM ({TOKENS_SQL}))
    SELECT b.doc_id,
           round(avg(ln((cp.cp + v.v) * 1.0) - ln((cb.cb + 1) * 1.0)), 6) + 0.0
               AS nll2,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM bigr b JOIN cb ON b.bg = cb.bg JOIN cp ON b.prev = cp.prev CROSS JOIN v
    WHERE b.doc_id < 1000
    GROUP BY b.doc_id
    """,
)
def t_bigram_nll(spark, sf_dir):
    """Bigram-LM quality score: per-doc average negative log likelihood
    under the corpus bigram model with add-1 smoothing over the unigram
    vocabulary — nll2 = avg(ln(c(prev)+V) − ln(c(bigram)+1)). The
    second rung of the LM-free perplexity ladder above `t_unigram_nll`;
    high values flag locally-incoherent (shuffled/generated) text that
    unigram statistics cannot see.

    Plan shape: the bigram and prefix count tables are vocabulary²-bounded
    but corpus-sublinear and broadcast back onto the scored stream; V is a
    single-row broadcast; the per-doc rollup is one doc_id shuffle. The
    per-bigram score is computed as ONE difference of logs of exact
    integers inside a single avg (same association both engines — the
    `t_unigram_nll` precedent).
    """
    from .dedup import bigram_array

    docs = load_table(spark, sf_dir, "documents")
    bigr = docs.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("w")
    ).select(
        "doc_id",
        F.explode(
            bigram_array("struct(w[i] AS prev, concat(w[i], ' ', w[i + 1]) AS bg)")
        ).alias("p"),
    ).select("doc_id", F.col("p.prev").alias("prev"), F.col("p.bg").alias("bg"))
    cb = bigr.groupBy("bg").agg(F.count("*").alias("cb"))
    cp = bigr.groupBy("prev").agg(F.count("*").alias("cp"))
    v = tokens(spark, sf_dir).agg(F.countDistinct("word").alias("v"))
    scored = (
        bigr.where(F.col("doc_id") < 1000)
        .join(F.broadcast(cb), "bg")
        .join(F.broadcast(cp), "prev")
        .crossJoin(F.broadcast(v))
    )
    return scored.groupBy("doc_id").agg(
        (
            F.round(
                F.avg(
                    F.log((F.col("cp") + F.col("v")) * 1.0)
                    - F.log((F.col("cb") + 1) * 1.0)
                ), 6
            ) + 0.0
        ).alias("nll2"),
        F.count("*").cast("long").alias("n_bigrams"),
    )


@register(
    "t_quality_survivor",
    """
    WITH d AS (SELECT doc_id, lang, n_chars,
                      md5(substr(text, 1, 160)) AS digest FROM documents),
    r AS (SELECT *,
                 row_number() OVER (PARTITION BY digest
                                    ORDER BY n_chars DESC, doc_id) AS rn,
                 count(*) OVER (PARTITION BY digest) AS cluster_size
          FROM d)
    SELECT digest, doc_id AS keep_doc_id, lang AS keep_lang,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(cluster_size - 1 AS BIGINT) AS n_dropped
    FROM r WHERE rn = 1 AND cluster_size >= 2
    """,
)
def t_quality_survivor(spark, sf_dir):
    """Quality-based dedup survivorship: per near-dup cluster keep the
    BEST document (longest n_chars, doc_id tiebreak), not the arbitrary or
    min-id one — the survivor-selection policy real corpus pipelines apply
    after clustering (t_canonical_dedup is the min-id variant).

    Cluster key = md5 of the first 160 chars: a prefix fingerprint, the
    cheapest near-dup blocking key (template/boilerplate dups share
    openings; exact dups collide trivially). The digest is computed in the
    scan projection, so the digest-keyed window shuffles 32-char digests +
    metadata, never document bodies — the same linear shape as
    t_exact_dedup_digest. Both window specs share one partitioning
    (single Window exec after one shuffle).
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang", "n_chars",
        F.md5(F.substring(F.col("text"), 1, 160)).alias("digest"),
    )
    w = Window.partitionBy("digest")
    r = d.select(
        "digest", "doc_id", "lang",
        F.row_number().over(w.orderBy(F.col("n_chars").desc(), "doc_id")).alias("rn"),
        F.count("*").over(w).alias("cluster_size"),
    )
    return r.where((F.col("rn") == 1) & (F.col("cluster_size") >= 2)).select(
        "digest",
        F.col("doc_id").alias("keep_doc_id"),
        F.col("lang").alias("keep_lang"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
        (F.col("cluster_size") - 1).cast("long").alias("n_dropped"),
    )


@register(
    "t_ccnet_bucket",
    f"""
    WITH tok AS ({TOKENS_SQL}),
    uni AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
    tot AS (SELECT count(*) AS n FROM tok),
    nll AS (
        SELECT t.doc_id, any_value(t.lang) AS lang,
               round(ln(tot.n * 1.0) - avg(ln(uni.c * 1.0)), 6) + 0.0 AS nll
        FROM tok t JOIN uni ON t.word = uni.word CROSS JOIN tot
        GROUP BY t.doc_id, tot.n
    ),
    bucketed AS (
        SELECT lang, nll,
               ntile(3) OVER (PARTITION BY lang ORDER BY nll, doc_id) AS b
        FROM nll
    )
    SELECT lang,
           CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(CAST(round(nll * 1e6) AS BIGINT)) / count(*) / 1e6, 6)
               AS avg_nll
    FROM bucketed GROUP BY lang, b
    """,
)
def t_ccnet_bucket(spark, sf_dir):
    """CCNet-style perplexity bucketing: score every doc with the corpus
    unigram-LM NLL (t_unigram_nll's signal, full corpus), split each
    language into head/middle/tail terciles, and report the per-bucket
    census — the partition step CCNet uses to keep 'head' web data and
    route 'tail' to filtering.

    Terciles use ntile over (rounded nll, doc_id) — an exact rank split,
    NOT percentile thresholds, so bucket assignment is engine-exact with
    no float-boundary risk. The per-bucket avg re-sums nll in exact 1e-6
    units (BIGINT) so partial-aggregation order can't move the 6dp round.
    The unigram table broadcasts; shuffles are doc_id (score rollup) and
    lang (ntile + census) — both linear.
    """
    from pyspark.sql.window import Window

    tok = tokens(spark, sf_dir)
    uni = tok.groupBy("word").agg(F.count("*").alias("c"))
    tot = tok.agg(F.count("*").alias("n"))
    nll = (
        tok.join(F.broadcast(uni), "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "n")
        .agg(
            F.any_value(F.col("lang")).alias("lang"),
            F.avg(F.log(F.col("c") * 1.0)).alias("avg_lc"),
        )
        .select(
            "doc_id", "lang",
            (F.round(F.log(F.col("n") * 1.0) - F.col("avg_lc"), 6) + 0.0).alias("nll"),
        )
    )
    w = Window.partitionBy("lang").orderBy("nll", "doc_id")
    b = nll.withColumn("b", F.ntile(3).over(w))
    units = F.round(F.col("nll") * 1e6).cast("long")
    return (
        b.groupBy("lang", "b")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(units).alias("u"),
        )
        .select(
            "lang",
            F.when(F.col("b") == 1, "head")
            .when(F.col("b") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            f6(F.col("u") / F.col("n_docs") / 1e6).alias("avg_nll"),
        )
    )


@register(
    "t_sentence_split",
    r"""
    WITH marked AS (
        SELECT doc_id,
               regexp_replace(text, '([.!?])\s+', '\1' || chr(1), 'g') AS m
        FROM documents WHERE doc_id < 200
    ),
    s AS (
        SELECT doc_id, unnest(string_split(m, chr(1))) AS sentence
        FROM marked
    ),
    numbered AS (
        SELECT doc_id, sentence,
               row_number() OVER (PARTITION BY doc_id ORDER BY md5(sentence))
                   AS dummy_rn,
               length(sentence) AS n_chars
        FROM s WHERE length(sentence) > 0
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_sentences,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           round(sum(n_chars) * 1.0 / count(*), 6) AS avg_chars
    FROM numbered GROUP BY doc_id
    """,
)
def t_sentence_split(spark, sf_dir):
    """Sentence segmentation census: split each document on
    sentence-boundary punctuation (lookbehind regex, so the delimiter
    stays attached) and report per-doc sentence statistics — the
    preprocessing granularity between t_chunk_docs' token windows and
    whole-document ops, and the unit most dedup/quality pipelines
    actually operate on.

    The split is a map-side array transform (zero shuffle until the
    per-doc rollup on doc_id); sentence text itself never shuffles —
    only integer lengths do. RE2 (DuckDB) has no lookbehind, so the
    boundary is marked by a sentinel replace (backrefs: $1 Java vs \\1
    RE2, 'g' flag explicit — the §2.7 divergence list) and both engines
    split on the sentinel.
    """
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    s = docs.select(
        "doc_id",
        F.explode(
            F.split(
                F.regexp_replace(F.col("text"), r"([.!?])\s+", "$1\u0001"),
                "\u0001",
            )
        ).alias("sentence"),
    ).where(F.length("sentence") > 0)
    return (
        s.select("doc_id", F.length("sentence").alias("n_chars"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_sentences"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            f6(F.sum("n_chars") * 1.0 / F.count("*")).alias("avg_chars"),
        )
    )


@register(
    "t_dsir_score",
    f"""
    WITH tok AS ({TOKENS_SQL}),
    uni_r AS (SELECT word, count(*) AS cr FROM tok GROUP BY word),
    uni_t AS (SELECT word, count(*) AS ct FROM tok WHERE lang = 'en'
              GROUP BY word),
    nr AS (SELECT count(*) AS n FROM tok),
    nt AS (SELECT count(*) AS n FROM tok WHERE lang = 'en'),
    v AS (SELECT count(*) AS v FROM uni_r),
    scored AS (
        SELECT t.doc_id, any_value(t.lang) AS lang,
               round(avg(ln((coalesce(ut.ct, 0) + 1) * 1.0)
                         - ln((ur.cr + 1) * 1.0))
                     + ln((nr.n + v.v) * 1.0) - ln((nt.n + v.v) * 1.0),
                     6) + 0.0 AS dsir_score,
               CAST(count(*) AS BIGINT) AS n_tokens
        FROM tok t JOIN uni_r ur ON t.word = ur.word
        LEFT JOIN uni_t ut ON t.word = ut.word
        CROSS JOIN nr CROSS JOIN nt CROSS JOIN v
        WHERE t.lang <> 'en'
        GROUP BY t.doc_id, nr.n, nt.n, v.v
    )
    SELECT doc_id, lang, dsir_score, n_tokens FROM scored
    ORDER BY dsir_score DESC, doc_id LIMIT 20
    """,
)
def t_dsir_score(spark, sf_dir):
    """DSIR-style importance resampling score (Xie et al. 2023): rank
    out-of-target documents by the log-likelihood ratio between a target
    unigram LM (lang='en' here standing in for "high-quality domain") and
    the raw-corpus LM, add-1 smoothed over the shared vocabulary — the
    data-selection step that picks pretraining docs distributionally
    closest to a trusted corpus.

    score = avg_w[ln(ct(w)+1) − ln(cr(w)+1)] + ln(nr+V) − ln(nt+V), so
    the smoothing-denominator constant folds OUT of the per-token average
    and attaches once — one log-difference per token inside a single avg
    (identical association both engines, the t_bigram_nll precedent).
    Both LM tables are vocabulary-bounded and broadcast onto the token
    stream; totals are single-row broadcasts; the only data-sized shuffle
    is the per-doc rollup on doc_id. Top-20 is TakeOrdered, never a
    global sort.
    """
    tok = tokens(spark, sf_dir)
    uni_r = tok.groupBy("word").agg(F.count("*").alias("cr"))
    uni_t = (
        tok.where(F.col("lang") == "en").groupBy("word").agg(F.count("*").alias("ct"))
    )
    nr = tok.agg(F.count("*").alias("n_r"))
    nt = tok.where(F.col("lang") == "en").agg(F.count("*").alias("n_t"))
    v = uni_r.agg(F.count("*").alias("v"))
    scored = (
        tok.where(F.col("lang") != "en")
        .join(F.broadcast(uni_r), "word")
        .join(F.broadcast(uni_t), "word", "left")
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id", "n_r", "n_t", "v")
        .agg(
            F.any_value(F.col("lang")).alias("lang"),
            F.avg(
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1) * 1.0)
                - F.log((F.col("cr") + 1) * 1.0)
            ).alias("avg_lr"),
            F.count("*").cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id", "lang",
            (
                F.round(
                    F.col("avg_lr")
                    + F.log((F.col("n_r") + F.col("v")) * 1.0)
                    - F.log((F.col("n_t") + F.col("v")) * 1.0),
                    6,
                )
                + 0.0
            ).alias("dsir_score"),
            "n_tokens",
        )
    )
    return scored.orderBy(F.col("dsir_score").desc(), "doc_id").limit(20)


@register(
    "t_fertility",
    r"""
    WITH d AS (
        SELECT lang, n_chars,
               CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
                   AS toks
        FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(sum(n_chars) * 1.0 / sum(toks), 6) AS chars_per_token,
           round(sum(toks) * 1.0 / count(*), 6) AS tokens_per_doc
    FROM d GROUP BY lang
    """,
)
def t_fertility(spark, sf_dir):
    """Tokenizer-fertility census: characters per (whitespace) token by
    language — the pretraining diagnostic that catches languages a
    tokenizer under-serves (high chars/token = longer subword sequences =
    more compute per byte of text).

    Token counts come from size(split(...)) in the scan projection — no
    explode, no token shuffle; only per-doc integers reach the lang
    rollup. All sums are exact BIGINT; the two ratios divide exact sums
    once at the end. One linear aggregation, vocabulary never
    materialized.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang", "n_chars",
        F.size(F.split(F.lower("text"), r"\s+")).cast("long").alias("toks"),
    )
    return d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        f6(F.sum("n_chars") * 1.0 / F.sum("toks")).alias("chars_per_token"),
        f6(F.sum("toks") * 1.0 / F.count("*")).alias("tokens_per_doc"),
    )


@register(
    "t_dedup_yield_curve",
    """
    WITH k AS (SELECT unnest([20, 40, 80, 160, 320]) AS k),
    d AS (
        SELECT k.k, md5(substr(doc.text, 1, CAST(k.k AS INTEGER))) AS digest
        FROM documents doc CROSS JOIN k
    )
    SELECT k, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT digest) AS BIGINT) AS n_distinct,
           round(count(DISTINCT digest) * 1.0 / count(*), 6) AS survival_rate,
           round(1 - count(DISTINCT digest) * 1.0 / count(*), 6) + 0
               AS dup_rate
    FROM d GROUP BY k ORDER BY k
    """,
)
def t_dedup_yield_curve(spark, sf_dir):
    """Dedup yield curve: corpus survival rate under prefix-fingerprint
    dedup as the fingerprint length k sweeps 20→320 chars — the tuning
    view that picks the blocking-key length before a full dedup run
    (short keys over-merge, long keys miss near-dups; the knee of this
    curve is the operating point).

    Digests are computed in the map-side projection (text is read once
    and never shuffled — only 32-char digests move), the k axis explodes
    a 5-element literal array, and each k's distinct count is Spark's
    two-level distinct aggregation. Work is 5× linear scan, zero joins.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.explode(F.array(*[F.lit(k) for k in (20, 40, 80, 160, 320)])).alias("k"),
        "text",
    ).select("k", F.md5(F.expr("substr(text, 1, k)")).alias("digest"))
    return (
        d.groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("digest").cast("long").alias("n_distinct"),
            f6(F.countDistinct("digest") * 1.0 / F.count("*")).alias("survival_rate"),
            f6(1 - F.countDistinct("digest") * 1.0 / F.count("*")).alias("dup_rate"),
        )
        .orderBy("k")
    )


@register(
    "t_lang_confusion",
    f"""
    WITH p AS (
        SELECT lang,
               CASE WHEN len(list_filter(string_split_regex(lower(text), '\\s+'),
                                         x -> list_contains({_SW_SQL}, x)))
                         * 1.0
                         / len(string_split_regex(lower(text), '\\s+')) > 0.02
                    THEN 'en-like' ELSE 'unknown' END AS pred
        FROM documents
    )
    SELECT lang, pred, CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0
                 / sum(count(*)) OVER (PARTITION BY lang), 6) AS share
    FROM p GROUP BY lang, pred
    """,
)
def t_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix: t_lang_id's stopword-ratio predictor
    against the labeled lang column, with per-language share — the
    eval that turns a heuristic classifier into a measured one (how much
    non-English text does the 'en-like' gate wrongly admit?).

    Prediction is the same single-pass JVM higher-order-function filter
    as t_lang_id (no explode, no Python); the confusion census is one
    (lang, pred) aggregate over a |langs|×2-bounded axis, and the share
    window runs over that aggregated frame. One linear scan, one tiny
    shuffle.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    sw = ", ".join(f"'{w}'" for w in _STOPWORDS)
    nstop = F.expr(
        f"size(filter(split(lower(text), '\\\\s+'), x -> array_contains(array({sw}), x)))"
    )
    ntok = F.size(F.split(F.lower("text"), r"\s+"))
    p = docs.select(
        "lang",
        F.when(nstop * 1.0 / ntok > 0.02, "en-like").otherwise("unknown").alias("pred"),
    )
    c = p.groupBy("lang", "pred").agg(F.count("*").cast("long").alias("n"))
    return c.select(
        "lang", "pred", "n",
        f6(F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("lang"))).alias("share"),
    )


_TRIGRAM_SQL = r"""
    SELECT doc_id, lang, substr(lt, CAST(i AS INTEGER), 3) AS tg
    FROM (
        SELECT doc_id, lang, lower(text) AS lt,
               unnest(range(1, greatest(len(text) - 1, 1))) AS i
        FROM documents WHERE doc_id < 400
    )
"""


@register(
    "t_trigram_lid",
    f"""
    WITH tg AS ({_TRIGRAM_SQL}),
    prof AS (
        SELECT lang, tg, row_number() OVER (
                   PARTITION BY lang ORDER BY count(*) DESC, tg) AS rnk
        FROM tg WHERE doc_id < 200 GROUP BY lang, tg
        QUALIFY rnk <= 30
    ),
    scored AS (
        SELECT t.doc_id, any_value(t.lang) AS true_lang, p.lang AS cand,
               CAST(count(*) AS BIGINT) AS hits
        FROM tg t JOIN prof p ON t.tg = p.tg
        WHERE t.doc_id >= 200
        GROUP BY t.doc_id, p.lang
    ),
    pred AS (
        SELECT doc_id, true_lang, cand AS pred_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY hits DESC, cand) AS rn
        FROM scored
    )
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0
                 / sum(count(*)) OVER (PARTITION BY true_lang), 6) AS share
    FROM pred WHERE rn = 1 GROUP BY true_lang, pred_lang
    """,
)
def t_trigram_lid(spark, sf_dir):
    """Char-trigram language identification, trained and evaluated in one
    query: build top-30 trigram profiles per language on a train split
    (doc_id < 200), classify the eval split by profile-hit argmax, and
    report the confusion census — the real n-gram LID the stopword
    heuristic (t_lang_id / t_lang_confusion) approximates.

    Trigrams explode distributed (positions generate per doc — linear in
    characters, never a driver loop); the learned profile is bounded at
    |langs| × 30 rows and broadcasts onto the eval trigram stream, so
    scoring is a map-side hash probe + one (doc, lang) rollup. Argmax is
    a deterministic row_number with (hits DESC, lang) tiebreak. At 100 TB
    the train split feeds from a sample, the profile still broadcasts,
    and scoring stays one linear pass.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    tg = docs.select(
        "doc_id", "lang",
        F.explode(
            F.expr(
                "CASE WHEN length(text) >= 3"
                " THEN sequence(1, length(text) - 2) ELSE array() END"
            )
        ).alias("i"),
        F.lower("text").alias("lt"),
    ).select("doc_id", "lang", F.expr("substr(lt, i, 3)").alias("tg"))
    wp = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "tg")
    prof = (
        tg.where(F.col("doc_id") < 200)
        .groupBy("lang", "tg")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rnk", F.row_number().over(wp))
        .where(F.col("rnk") <= 30)
        .select(F.col("lang").alias("cand"), "tg")
    )
    scored = (
        tg.where(F.col("doc_id") >= 200)
        .join(F.broadcast(prof), "tg")
        .groupBy("doc_id", "cand")
        .agg(
            F.any_value(F.col("lang")).alias("true_lang"),
            F.count("*").cast("long").alias("hits"),
        )
    )
    wd = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), "cand")
    pred = scored.withColumn("rn", F.row_number().over(wd)).where(F.col("rn") == 1)
    c = pred.groupBy("true_lang", F.col("cand").alias("pred_lang")).agg(
        F.count("*").cast("long").alias("n")
    )
    return c.select(
        "true_lang", "pred_lang", "n",
        f6(
            F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("true_lang"))
        ).alias("share"),
    )


@register(
    "t_jsd_sources",
    f"""
    WITH tok AS ({TOKENS_SQL}),
    src_tok AS (
        SELECT d.source, t.word
        FROM tok t JOIN documents d ON t.doc_id = d.doc_id
    ),
    vocab AS (SELECT DISTINCT word FROM tok),
    v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    cs AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
           FROM src_tok GROUP BY source, word),
    ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n
           FROM src_tok GROUP BY source),
    ct AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM src_tok
           GROUP BY word),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM src_tok),
    grid AS (
        SELECT ns.source, vocab.word, ns.n AS n_s, v.v,
               coalesce(cs.c, 0) AS c_s,
               ct.c AS c_t, nt.n AS n_t
        FROM ns CROSS JOIN vocab CROSS JOIN v CROSS JOIN nt
        LEFT JOIN cs ON cs.source = ns.source AND cs.word = vocab.word
        JOIN ct ON ct.word = vocab.word
    ),
    terms AS (
        SELECT source, n_s,
               CAST(round((p * ln(p / m) + q * ln(q / m)) * 1e12) AS BIGINT)
                   AS t
        FROM (
            SELECT source, n_s,
                   (c_s + 1) * 1.0 / (n_s + v) AS p,
                   (c_t - c_s + 1) * 1.0 / (n_t - n_s + v) AS q,
                   ((c_s + 1) * 1.0 / (n_s + v)
                    + (c_t - c_s + 1) * 1.0 / (n_t - n_s + v)) / 2 AS m
            FROM grid
        )
    )
    SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
           round(sum(t) / 2e12 / ln(2.0), 6) AS jsd_bits
    FROM terms GROUP BY source
    """,
)
def t_jsd_sources(spark, sf_dir):
    """Per-source corpus drift: Jensen-Shannon divergence (bits) between
    each source's add-1-smoothed unigram distribution and the
    rest-of-corpus distribution — the ingest-monitoring scalar that flags
    a crawl source whose vocabulary shifted (JSD is symmetric and bounded
    [0,1] bits, unlike KL).

    The source×vocab grid is the honest smoothed-distribution shape:
    both axes are corpus-bounded (sources ≪ docs, vocab sublinear), and
    absent words still contribute their smoothing mass. Count tables
    broadcast onto the grid; each JSD term is snapped to exact 1e-12
    BIGINT units before the per-source sum (reorder-safe), and both
    engines evaluate p/q/m in one shared association. Rest-of-corpus
    counts come from totals minus the source's own (no 20× rescan).
    """
    tok = tokens(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    src_tok = tok.join(docs, "doc_id").select("source", "word")
    # r17 (guide §2.1/§2.4): aggregate ONCE at the finest grain the key
    # needs — the old form scanned the token-grain join 4x (cs/ns/ct/nt)
    # plus a 5th pass for the vocab distinct. ns, ct, nt and the vocab
    # axis are all exact integer roll-ups of cs, so one source×vocab
    # census (corpus-bounded per the docstring) replaces every
    # token-grain rescan. Every token's doc_id exists in documents
    # (tokens derive from documents.text), so the cs-derived vocab is
    # the corpus vocab.
    cs = (
        src_tok.groupBy("source", "word")
        .agg(F.count("*").cast("long").alias("c_s"))
    )
    vocab = cs.select("word").distinct()
    v = vocab.agg(F.count("*").cast("long").alias("v"))
    ns = cs.groupBy("source").agg(F.sum("c_s").cast("long").alias("n_s"))
    ct = cs.groupBy("word").agg(F.sum("c_s").cast("long").alias("c_t"))
    nt = cs.agg(F.sum("c_s").cast("long").alias("n_t"))
    grid = (
        ns.crossJoin(vocab)
        .crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(nt))
        .join(F.broadcast(cs), ["source", "word"], "left")
        .join(F.broadcast(ct), "word")
        .select(
            "source", "n_s", "v",
            F.coalesce(F.col("c_s"), F.lit(0)).alias("c_s"),
            "c_t", "n_t",
        )
    )
    p = (F.col("c_s") + 1) * 1.0 / (F.col("n_s") + F.col("v"))
    q = (F.col("c_t") - F.col("c_s") + 1) * 1.0 / (
        F.col("n_t") - F.col("n_s") + F.col("v")
    )
    m = (p + q) / 2
    t = F.round((p * F.log(p / m) + q * F.log(q / m)) * 1e12).cast("long")
    terms = grid.select("source", "n_s", t.alias("t"))
    return terms.groupBy("source").agg(
        F.max("n_s").cast("long").alias("n_tokens"),
        f6(F.sum("t") / 2e12 / float(__import__("math").log(2.0))).alias("jsd_bits"),
    )


@register(
    "t_symspell_join",
    f"""
    WITH tok AS ({TOKENS_SQL}),
    freq AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM tok
             WHERE len(word) >= 4 GROUP BY word),
    pos AS (
        SELECT word, unnest(range(0, len(word) + 1)) AS i FROM freq
    ),
    del1 AS (
        SELECT word, CASE WHEN i = 0 THEN word
                          ELSE substr(word, 1, CAST(i - 1 AS INTEGER))
                               || substr(word, CAST(i + 1 AS INTEGER))
                     END AS v
        FROM pos
    ),
    del2 AS (
        SELECT DISTINCT word,
               CASE WHEN j = 0 THEN v
                    ELSE substr(v, 1, CAST(j - 1 AS INTEGER))
                         || substr(v, CAST(j + 1 AS INTEGER))
               END AS v
        FROM (SELECT word, v, unnest(range(0, len(v) + 1)) AS j FROM del1)
    ),
    cand AS (
        SELECT DISTINCT a.word AS word_a, b.word AS word_b
        FROM del2 a JOIN del2 b ON a.v = b.v AND a.word < b.word
    )
    SELECT c.word_a, c.word_b,
           CAST(levenshtein(c.word_a, c.word_b) AS BIGINT) AS dist,
           fa.c AS freq_a, fb.c AS freq_b
    FROM cand c JOIN freq fa ON c.word_a = fa.word
    JOIN freq fb ON c.word_b = fb.word
    WHERE levenshtein(c.word_a, c.word_b) <= 2
    ORDER BY word_a, word_b LIMIT 50
    """,
)
def t_symspell_join(spark, sf_dir):
    """SymSpell fuzzy vocabulary self-join: all word pairs (≥4 chars)
    within edit distance 2, found WITHOUT a cross join — the scalable
    spell-normalization / alias-resolution shape. Every dist≤2 pair
    shares a member of each other's ≤2-deletion neighborhoods, so
    candidate generation is an EQUI-join on deletion variants (identity
    included, covering pure inserts) and exact levenshtein verifies only
    the candidates.

    Variants explode map-side — O(len²) per word, bounded by word length
    — and the variant join shuffles short strings, never the corpus; the
    canonical word_a < word_b ordering dedups pairs in the join
    condition. At 100 TB the same plan resolves entity aliases: the
    deletion neighborhood IS the blocking key, and verification cost is
    candidates, not |vocab|².
    """
    tok = tokens(spark, sf_dir)
    freq = (
        tok.where(F.length("word") >= 4)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("c"))
    )
    del1 = freq.select(
        "word",
        F.explode(F.expr("sequence(0, length(word))")).alias("i"),
    ).select(
        "word",
        F.expr(
            "CASE WHEN i = 0 THEN word"
            " ELSE concat(substr(word, 1, i - 1), substr(word, i + 1)) END"
        ).alias("v"),
    )
    del2 = (
        del1.select(
            "word", "v",
            F.explode(F.expr("sequence(0, length(v))")).alias("j"),
        )
        .select(
            "word",
            F.expr(
                "CASE WHEN j = 0 THEN v"
                " ELSE concat(substr(v, 1, j - 1), substr(v, j + 1)) END"
            ).alias("v"),
        )
        .distinct()
    )
    a = del2.select(F.col("word").alias("word_a"), "v")
    b = del2.select(F.col("word").alias("word_b"), "v")
    dist = F.levenshtein("word_a", "word_b")
    # Exact top-K pushdown through the pair dedup (round-11 verdict item
    # 5, rediagnosed): on a low-entropy vocabulary the variant join emits
    # ~10M TRUE dist<=2 pairs, and a global distinct() on them is a ~30 s
    # hash-agg exchange (near-unique keys defeat map-side combine) — all
    # to keep 50 output rows. But the query ends in ORDER BY (word_a,
    # word_b) LIMIT 50, and a pair's multiplicity in the join is bounded
    # by its shared del2 variants <= 1 + L + C(L,2) for L = the longest
    # vocabulary word. The 50 smallest DISTINCT pairs therefore live
    # inside the smallest 50*(that bound) multiset rows, so TakeOrdered
    # (map-side heap, no 10M-row exchange) before the dedup is exact.
    # maxlen is a bounded-scalar collect (one value off the cached,
    # vocabulary-sized freq frame — the repo's scalar-aggregate pattern).
    freq = freq.cache()
    maxlen = freq.agg(F.max(F.length("word")).alias("m")).first()["m"] or 4
    k_cap = 50 * (1 + maxlen + maxlen * (maxlen - 1) // 2)
    cand = (
        a.join(b, "v")
        .where((F.col("word_a") < F.col("word_b")) & (dist <= 2))
        .select("word_a", "word_b")
        .orderBy("word_a", "word_b")
        .limit(k_cap)
        .distinct()
    )
    fa = freq.select(F.col("word").alias("word_a"), F.col("c").alias("freq_a"))
    fb = freq.select(F.col("word").alias("word_b"), F.col("c").alias("freq_b"))
    return (
        cand.select("word_a", "word_b", dist.cast("long").alias("dist"))
        .join(F.broadcast(fa), "word_a")
        .join(F.broadcast(fb), "word_b")
        .select("word_a", "word_b", "dist", "freq_a", "freq_b")
        .orderBy("word_a", "word_b")
        .limit(50)
    )


@register(
    "t_char_entropy",
    """
    WITH chars AS (
        SELECT d.doc_id, d.n_chars, t.chr, CAST(count(*) AS BIGINT) AS cnt
        FROM documents d, unnest(string_split(d.text, '')) AS t(chr)
        WHERE t.chr IS NOT NULL AND t.chr <> ''
        GROUP BY d.doc_id, d.n_chars, t.chr
    ),
    terms AS (
        SELECT doc_id, n_chars,
               CAST(round(cnt * 1.0 / sum(cnt) OVER (PARTITION BY doc_id)
                          * log2(sum(cnt) OVER (PARTITION BY doc_id)
                                 * 1.0 / cnt)
                          * 1e12) AS BIGINT) AS t12
        FROM chars
    ),
    ent AS (
        SELECT doc_id, CAST(max(n_chars) AS BIGINT) AS n_chars,
               sum(t12) AS h12
        FROM terms GROUP BY doc_id
    )
    SELECT doc_id, n_chars, round(h12 / 1e12, 6) + 0 AS entropy
    FROM ent
    ORDER BY entropy, doc_id LIMIT 20
    """,
)
def t_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document, 20 lowest — the
    gibberish/boilerplate screen that catches repeated-character junk and
    base64-ish blobs (very HIGH entropy) at the other end; a standard
    pre-training corpus filter alongside t_repetition_filter (which looks
    at line repeats, not symbol distribution).

    Chars explode map-side (no Python: split + explode are codegen); the
    (doc, char) count shuffles WITH map-side combine, so what crosses
    the wire is alphabet-bounded counts, never the raw exploded chars.
    A second, far smaller doc_id exchange serves both the window total
    and the final rollup. Each p·log2(1/p) term snaps to 1e-12 BIGINT
    units before summing (reorder-safe, the a_entropy convention); a
    100 TB corpus costs one linear scan + two count-sized shuffles —
    the text itself never shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    chars = (
        docs.select(
            "doc_id",
            "n_chars",
            F.explode(F.split(F.col("text"), "")).alias("chr"),
        )
        .where(F.col("chr").isNotNull() & (F.col("chr") != ""))
        .groupBy("doc_id", "n_chars", "chr")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    tot = F.sum("cnt").over(Window.partitionBy("doc_id"))
    term = F.round(
        F.col("cnt") * 1.0 / tot * F.log2(tot * 1.0 / F.col("cnt")) * 1e12
    ).cast("long")
    ent = (
        chars.select("doc_id", "n_chars", term.alias("t12"))
        .groupBy("doc_id")
        .agg(
            F.max("n_chars").cast("long").alias("n_chars"),
            F.sum("t12").alias("h12"),
        )
    )
    return (
        ent.select("doc_id", "n_chars", f6(F.col("h12") / 1e12).alias("entropy"))
        .orderBy("entropy", "doc_id")
        .limit(20)
    )


@register(
    "t_code_detect",
    """
    WITH feat AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
               CAST(length(text) - length(replace(text, '{', ''))
                    + length(text) - length(replace(text, '}', ''))
                    + length(text) - length(replace(text, '(', ''))
                    + length(text) - length(replace(text, ')', ''))
                    + length(text) - length(replace(text, ';', ''))
                    + length(text) - length(replace(text, '=', ''))
                    + length(text) - length(replace(text, '<', ''))
                    + length(text) - length(replace(text, '>', ''))
                    AS BIGINT) AS n_sym,
               CAST(length(text) - length(replace(text, '0', ''))
                    + length(text) - length(replace(text, '1', ''))
                    + length(text) - length(replace(text, '2', ''))
                    + length(text) - length(replace(text, '3', ''))
                    + length(text) - length(replace(text, '4', ''))
                    + length(text) - length(replace(text, '5', ''))
                    + length(text) - length(replace(text, '6', ''))
                    + length(text) - length(replace(text, '7', ''))
                    + length(text) - length(replace(text, '8', ''))
                    + length(text) - length(replace(text, '9', ''))
                    AS BIGINT) AS n_dig,
               CAST(length(text) - length(replace(text, ' ', ''))
                    AS BIGINT) AS n_sp
        FROM documents
    )
    SELECT doc_id, n_sym, n_dig,
           round(n_sym * 1.0 / n_chars, 6) + 0 AS sym_density,
           round(n_dig * 1.0 / n_chars, 6) + 0 AS dig_density,
           CASE WHEN n_sym * 1.0 / n_chars > 0.05
                  OR (n_dig * 1.0 / n_chars > 0.15
                      AND n_sp * 1.0 / n_chars < 0.05)
                THEN 1 ELSE 0 END AS is_codelike
    FROM feat
    ORDER BY sym_density DESC, dig_density DESC, doc_id LIMIT 20
    """,
)
def t_code_detect(spark, sf_dir):
    """Code-vs-prose heuristic screen: flag documents whose
    brace/operator symbol density (or digit density with near-zero
    whitespace) says "source code / data dump", the routing gate a
    mixed-crawl pipeline runs before prose-only filters like
    t_gopher_quality (whose stopword tests would junk every real code
    file) — 20 most code-like shown.

    Counts come from length-minus-replace arithmetic — exact integers,
    engine-identical, zero regex engine divergence risk, all inside one
    codegen projection (NO shuffle, NO Python). Densities divide exact
    counts once per doc; the flag compares raw quotients so no float
    boundary can flip between engines. Scales as a pure map over the
    corpus — the 100 TB cost is the scan itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")

    def n_of(ch):
        return F.length(t) - F.length(F.replace(t, F.lit(ch), F.lit("")))

    n_sym = sum(n_of(c) for c in "{}();=<>").cast("long")
    n_dig = sum(n_of(c) for c in "0123456789").cast("long")
    n_sp = n_of(" ").cast("long")
    feat = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        n_sym.alias("n_sym"),
        n_dig.alias("n_dig"),
        n_sp.alias("n_sp"),
    )
    sym_d = F.col("n_sym") * 1.0 / F.col("n_chars")
    dig_d = F.col("n_dig") * 1.0 / F.col("n_chars")
    sp_d = F.col("n_sp") * 1.0 / F.col("n_chars")
    return (
        feat.select(
            "doc_id",
            "n_sym",
            "n_dig",
            f6(sym_d).alias("sym_density"),
            f6(dig_d).alias("dig_density"),
            F.when((sym_d > 0.05) | ((dig_d > 0.15) & (sp_d < 0.05)), 1)
            .otherwise(0)
            .alias("is_codelike"),
        )
        .orderBy(F.col("sym_density").desc(), F.col("dig_density").desc(), "doc_id")
        .limit(20)
    )


@register(
    "t_bm25_score",
    f"""
    WITH tok AS ({TOKENS_SQL}),
    qterms AS (SELECT unnest(['data', 'model', 'system']) AS word),
    dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dlen FROM tok GROUP BY doc_id
    ),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               avg(dlen * 1.0) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT t.doc_id, t.word, CAST(count(*) AS BIGINT) AS f
        FROM tok t JOIN qterms q ON q.word = t.word
        GROUP BY t.doc_id, t.word
    ),
    df AS (
        SELECT word, CAST(count(*) AS BIGINT) AS nq FROM tf GROUP BY word
    ),
    scored AS (
        SELECT tf.doc_id,
               sum(CAST(round(
                   ln((s.n_docs - df.nq + 0.5) / (df.nq + 0.5) + 1)
                   * (tf.f * 2.2)
                   / (tf.f + 1.2 * (0.25 + 0.75 * dl.dlen / s.avgdl))
                   * 1e12) AS BIGINT)) AS s12,
               CAST(count(*) AS BIGINT) AS n_terms_hit
        FROM tf
        JOIN df ON df.word = tf.word
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    )
    SELECT doc_id, n_terms_hit, round(s12 / 1e12, 6) + 0 AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def t_bm25_score(spark, sf_dir, query_terms=("data", "model", "system")):
    """BM25 ranking (k1=1.2, b=0.75) of the corpus against a fixed term
    set — the IR scoring function behind every lexical search engine,
    and the third leg of the text-retrieval stack next to t_tfidf
    (which lacks saturation: BM25's tf/(tf+k1·norm) caps what a
    100-repeat spam term can contribute) and the vector tier (v_*).

    The query-term filter is a 3-row broadcast join that prunes the
    token stream BEFORE any aggregation, so tf is computed only for
    matching terms; doc lengths and the corpus stats are the same
    shared folds t_tfidf uses; the per-(doc, term) score term — IDF x
    saturated TF — snaps to 1e-12 BIGINT units before the per-doc sum
    (reorder-safe). At 100 TB the score cost is the scan + a
    term-pruned (doc, term) shuffle; the 0.5-smoothed IDF keeps the
    formula defined at any df.
    """
    tok = tokens(spark, sf_dir)
    # query_terms is overridable (default = the registered/oracle term
    # set) so tools/scalecheck.py can pass corpus-derived terms: the
    # ladder's zipf vocabulary (w00000...) misses the fixed strings, which
    # left the round-10 ladder row measuring the scan/join pipeline with
    # ZERO output rows (round-10 verdict item 4).
    qterms = spark.createDataFrame(
        [(w,) for w in query_terms], "word STRING"
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").cast("long").alias("dlen"))
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.avg(F.col("dlen") * 1.0).alias("avgdl"),
    )
    tf = (
        tok.join(F.broadcast(qterms), "word")
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("f"))
    )
    df = tf.groupBy("word").agg(F.count("*").cast("long").alias("nq"))
    idf = F.log(
        (F.col("n_docs") - F.col("nq") + 0.5) / (F.col("nq") + 0.5) + 1
    )
    sat = (F.col("f") * 2.2) / (
        F.col("f") + 1.2 * (0.25 + 0.75 * F.col("dlen") / F.col("avgdl"))
    )
    term12 = F.round(idf * sat * 1e12).cast("long")
    scored = (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(term12).alias("s12"),
            F.count("*").cast("long").alias("n_terms_hit"),
        )
    )
    return (
        scored.select("doc_id", "n_terms_hit", f6(F.col("s12") / 1e12).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@register(
    "t_crosslingual_dups",
    """
    WITH langs AS (
        SELECT md5(text) AS digest, lang, count(*) AS n
        FROM documents GROUP BY md5(text), lang
    ),
    agg AS (
        SELECT digest,
               CAST(count(*) AS BIGINT) AS n_langs,
               CAST(sum(n) AS BIGINT) AS n_docs,
               string_agg(lang, ',' ORDER BY lang) AS lang_list
        FROM langs GROUP BY digest
    )
    SELECT digest, n_langs, n_docs, lang_list
    FROM agg WHERE n_langs > 1
    ORDER BY n_langs DESC, digest
    LIMIT 25
    """,
)
def t_crosslingual_dups(spark, sf_dir):
    """Cross-lingual duplicate census: texts that appear under MORE THAN
    ONE language tag — a real crawled-corpus failure mode (mislabeled
    LID, boilerplate shared across site locales) that single-language
    dedup passes never see and that silently poisons per-language
    mixture weights (t_domain_mix) and LID training (t_trigram_lid).
    This is also why t_exact_dedup keys on (lang, text), documented
    there; this key measures the phenomenon itself.

    Digests computed at the scan (32-char md5 — text never shuffles);
    the (digest, lang) fold collapses before the per-digest rollup, and
    lang lists are sorted string_aggs (deterministic). Both shuffles
    carry digest-sized rows at any corpus scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    langs = (
        docs.select(F.md5("text").alias("digest"), "lang")
        .groupBy("digest", "lang")
        .agg(F.count("*").alias("n"))
    )
    agg = langs.groupBy("digest").agg(
        F.count("*").cast("long").alias("n_langs"),
        F.sum("n").cast("long").alias("n_docs"),
        F.array_join(F.array_sort(F.collect_list("lang")), ",").alias("lang_list"),
    )
    return (
        agg.where(F.col("n_langs") > 1)
        .orderBy(F.col("n_langs").desc(), "digest")
        .limit(25)
    )


@register(
    "t_collocations_pmi",
    f"""
    WITH tok AS ({TOKENS_SQL}),
    uni AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY word),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
    bi AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM (
            SELECT doc_id, word AS w1,
                   lead(word) OVER (PARTITION BY doc_id
                                    ORDER BY pos) AS w2
            FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text), '\\s+')) AS word,
                       generate_subscripts(
                           string_split_regex(lower(text), '\\s+'), 1) AS pos
                FROM documents
            )
        ) WHERE w2 IS NOT NULL
        GROUP BY w1, w2
    )
    SELECT bi.w1, bi.w2, bi.cb,
           round(ln(bi.cb * 1.0 * n.n / (u1.c * u2.c)), 6) + 0 AS pmi
    FROM bi
    JOIN uni u1 ON u1.word = bi.w1
    JOIN uni u2 ON u2.word = bi.w2
    CROSS JOIN n
    WHERE bi.cb >= 5
    ORDER BY pmi DESC, bi.w1, bi.w2 LIMIT 20
    """,
)
def t_collocations_pmi(spark, sf_dir):
    """PMI collocation extraction: adjacent word pairs ranked by
    pointwise mutual information log(N·c(ab)/(c(a)·c(b))), min count 5
    — the statistical phrase detector ('new york'-style multiword
    units) behind tokenizer merge rules and phrase-aware indexing
    (t_ngram_bigram counts bigrams; PMI NORMALIZES by unigram
    popularity so 'of the' loses to genuinely-bound pairs).

    Bigrams come from the positional window per doc (map-side after
    one doc-keyed explode); unigram counts broadcast onto the bigram
    axis (vocabulary-bounded both sides); the count floor prunes
    BEFORE the PMI math, and ln() runs once per surviving pair.
    Ordering: rounded PMI with (w1, w2) tiebreaks.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos", "word"),
    )
    bi = (
        words.withColumn(
            "w2",
            F.lead("word").over(Window.partitionBy("doc_id").orderBy("pos")),
        )
        .where(F.col("w2").isNotNull())
        .groupBy(F.col("word").alias("w1"), "w2")
        .agg(F.count("*").cast("long").alias("cb"))
        .where(F.col("cb") >= 5)
    )
    tok = tokens(spark, sf_dir)
    uni = tok.groupBy("word").agg(F.count("*").cast("long").alias("c"))
    n = tok.agg(F.count("*").cast("long").alias("n"))
    u1 = uni.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log(F.col("cb") * 1.0 * F.col("n") / (F.col("c1") * F.col("c2")))
    return (
        bi.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n))
        .select("w1", "w2", "cb", f6(pmi).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


@register(
    "t_quality_length_bias",
    """
    WITH f AS (
        SELECT lang,
               CAST(n_chars AS BIGINT) AS x,
               CAST(length(text) - length(replace(text, ' ', '')) + 1
                    AS BIGINT) AS y
        FROM documents
    ),
    m AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
               sum(x * x) AS sxx, sum(y * y) AS syy
        FROM f GROUP BY lang
    )
    SELECT lang, n,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) + 0 AS corr_len_tokens
    FROM m
    ORDER BY lang
    """,
)
def t_quality_length_bias(spark, sf_dir):
    """Filter-bias audit: per-language correlation between document
    length and token count — the sanity check applied to any 'quality'
    signal before trusting it (when a quality score correlates ~1.0
    with raw length, the expensive filter is just a length cutoff in
    disguise, and t_gopher_quality's ratio rules exist precisely to
    break that coupling). Here the audited pair is chars vs tokens —
    near-perfectly coupled by construction, making the expected output
    a known ~1.0 that pins the moment machinery.

    Exact integer moments per lang from one conditional-free scan (the
    a_spearman_corr BIGINT-moment pattern, per-group); one Pearson
    association per lang row. Swap y for ANY per-doc score column to
    audit a real filter at identical cost.
    """
    docs = load_table(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("long")
    y = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    ).cast("long")
    f = docs.select("lang", x.alias("x"), y.alias("y"))
    m = f.groupBy("lang").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return m.select("lang", "n", f6(num / den).alias("corr_len_tokens")).orderBy("lang")


@register(
    "t_bpe_merge_step",
    """
    WITH cand AS (
        SELECT pair FROM (
            SELECT substring(lower(text), i, 2) AS pair
            FROM documents,
                 generate_series(1, 400) AS g(i)
            WHERE i < length(text)
        ) raw
        WHERE pair NOT LIKE '% %' AND length(pair) = 2
        GROUP BY pair
        ORDER BY count(*) DESC, pair LIMIT 10
    ),
    exact AS (
        SELECT c.pair,
               sum((length(lower(d.text))
                    - length(replace(lower(d.text), c.pair, ''))) / 2)
                   AS n_merges
        FROM documents d CROSS JOIN cand c
        GROUP BY c.pair
    )
    SELECT pair, CAST(n_merges AS BIGINT) AS n_merges
    FROM exact
    ORDER BY n_merges DESC, pair LIMIT 5
    """,
)
def t_bpe_merge_step(spark, sf_dir):
    """One BPE merge-selection step: find the character pair whose
    merge removes the most symbols from the corpus — the inner loop of
    byte-pair-encoding tokenizer TRAINING (t_fertility measures a
    trained tokenizer; this is how one gets trained). Top-5 merge
    candidates with their exact merge counts.

    Two-phase exactness: cheap overlap-naive bigram counts nominate 10
    candidates (positional substrings, map-side), then the EXACT
    non-overlapping merge count for each comes from length-minus-
    replace arithmetic — `replace` consumes matches left-to-right
    greedily, which is precisely BPE's merge semantics ('aaa' merges
    once, not twice), and it's engine-identical integer math. The
    candidate broadcast is 10 rows; the exact pass is one linear scan
    per candidate batch. Iterating = re-running with the merged symbol
    appended to the alphabet (same plan per iteration, the r_hits
    unrolling argument).
    """
    docs = load_table(spark, sf_dir, "documents")
    lowered = docs.select(F.lower("text").alias("lt"))
    pairs = (
        lowered.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, 400),"
                    " i -> CASE WHEN i < length(lt)"
                    "       THEN substring(lt, i, 2) END)"
                )
            ).alias("pair")
        )
        .where(
            F.col("pair").isNotNull()
            & (F.length("pair") == 2)
            & ~F.col("pair").contains(" ")
        )
        .groupBy("pair")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "pair")
        .limit(10)
        .select("pair")
    )
    merges = (
        lowered.crossJoin(F.broadcast(pairs))
        .groupBy("pair")
        .agg(
            (
                F.sum(
                    F.length("lt")
                    - F.length(F.expr("replace(lt, pair, '')"))
                )
                / 2
            )
            .cast("long")
            .alias("n_merges")
        )
    )
    return merges.orderBy(F.col("n_merges").desc(), "pair").limit(5)


@register(
    "t_dataset_card",
    f"""
    WITH tok AS ({TOKENS_SQL}),
    tk AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok),
    d AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts
        FROM documents
    )
    SELECT d.n_docs, d.n_langs, d.n_sources, d.n_chars, tk.n_tokens,
           round(d.n_chars * 1.0 / d.n_docs, 6) + 0 AS mean_chars,
           round(1.0 - d.n_unique_texts * 1.0 / d.n_docs, 6) + 0 AS dup_rate
    FROM d CROSS JOIN tk
    """,
)
def t_dataset_card(spark, sf_dir):
    """Dataset-card summary: the one-row datasheet (docs, languages,
    sources, chars, tokens, mean length, exact-duplicate rate) that
    fronts every corpus release — 'Datasheets for Datasets' reduced to
    the numbers a consumer checks before training, assembled in two
    scans instead of seven notebook cells drifting out of sync.

    One documents pass folds five counters (the distinct-digest dedup
    rate reuses the t_exact_dedup_digest key — text itself never
    shuffles); the token count is the shared tokenizer's one explode.
    Every figure is an exact BIGINT until the two final divisions.
    Publishing cadence: run per snapshot, diff against the previous
    card — a moving dup_rate or tokens/doc is the earliest corpus-
    drift alarm (a_psi_drift's cousin at the dataset level).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(spark, sf_dir)
    d = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.countDistinct(F.md5("text")).cast("long").alias("n_unique_texts"),
    )
    tk = tok.agg(F.count("*").cast("long").alias("n_tokens"))
    return (
        d.crossJoin(F.broadcast(tk))
        .select(
            "n_docs",
            "n_langs",
            "n_sources",
            "n_chars",
            "n_tokens",
            f6(F.col("n_chars") * 1.0 / F.col("n_docs")).alias("mean_chars"),
            f6(1.0 - F.col("n_unique_texts") * 1.0 / F.col("n_docs")).alias(
                "dup_rate"
            ),
        )
    )


@register(
    "t_freq_spectrum",
    f"""
    WITH tok AS ({TOKENS_SQL}),
    counts AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM tok
               GROUP BY word),
    spectrum AS (
        SELECT c AS freq, CAST(count(*) AS BIGINT) AS n_words
        FROM counts GROUP BY c
    ),
    gt AS (
        SELECT coalesce((SELECT n_words FROM spectrum WHERE freq = 1), 0)
                   AS n1,
               (SELECT CAST(count(*) AS BIGINT) FROM tok) AS n
    )
    SELECT s.freq, s.n_words,
           round(gt.n1 * 1.0 / gt.n, 6) + 0 AS unseen_mass
    FROM spectrum s CROSS JOIN gt
    ORDER BY s.freq LIMIT 20
    """,
)
def t_freq_spectrum(spark, sf_dir):
    """Word frequency-of-frequencies spectrum (how many words occur
    exactly k times) plus the Good-Turing unseen-mass estimate N1/N —
    the count-of-counts object behind smoothing, vocabulary-growth
    projection, and 'how much probability belongs to words we have
    never seen' (t_zipf_fit fits the tail's slope; this is the raw
    spectrum it is fit to, and the k=1 cell is the single most
    informative number in it — zero on this dense synthetic vocab,
    which itself says 'the vocabulary is saturated').

    Two nested folds (word counts → count-of-counts), both
    vocabulary-bounded after the first; the Good-Turing scalar is a
    1-row broadcast onto the ≤max-freq-row spectrum. Everything is
    exact integers until the one unseen-mass division.
    """
    tok = tokens(spark, sf_dir)
    counts = tok.groupBy("word").agg(F.count("*").cast("long").alias("c"))
    spectrum = counts.groupBy(F.col("c").alias("freq")).agg(
        F.count("*").cast("long").alias("n_words")
    )
    n1 = spectrum.agg(
        F.coalesce(
            F.sum(F.when(F.col("freq") == 1, F.col("n_words"))), F.lit(0)
        )
        .cast("long")
        .alias("n1")
    )
    n = tok.agg(F.count("*").cast("long").alias("n"))
    return (
        spectrum.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n))
        .select(
            "freq",
            "n_words",
            f6(F.col("n1") * 1.0 / F.col("n")).alias("unseen_mass"),
        )
        .orderBy("freq")
        .limit(20)
    )


@register(
    "t_stopword_discovery",
    f"""
    WITH tok AS ({TOKENS_SQL}),
    df AS (
        SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS docs,
               CAST(count(*) AS BIGINT) AS occurrences
        FROM tok GROUP BY word
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT d.word, d.docs, d.occurrences,
           round(d.docs * 1.0 / n.n_docs, 6) + 0 AS doc_frac
    FROM df d CROSS JOIN n
    WHERE d.docs * 10 > n.n_docs * 7
    ORDER BY doc_frac DESC, d.word
    LIMIT 25
    """,
)
def t_stopword_discovery(spark, sf_dir):
    """Corpus-driven stopword discovery: words present in >70% of
    documents — the data-derived list that should FEED t_quality_score
    and t_gopher_quality instead of a hardcoded English list (which
    silently misfires on every other language and domain; a legal
    corpus's 'pursuant' is a stopword, English's generic list doesn't
    know that).

    Document frequency folds on the (word, doc) axis then the word
    axis — both vocabulary-bounded; the 70% threshold compares scaled
    exact integers (docs*10 > n*7, no float boundary); the corpus
    count is a 1-row broadcast. Re-run per corpus snapshot: the list
    IS a function of the data, which is the point.
    """
    tok = tokens(spark, sf_dir)
    df = tok.groupBy("word").agg(
        F.countDistinct("doc_id").cast("long").alias("docs"),
        F.count("*").cast("long").alias("occurrences"),
    )
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").cast("long").alias("n_docs"))
    return (
        df.crossJoin(F.broadcast(n))
        .where(F.col("docs") * 10 > F.col("n_docs") * 7)
        .select(
            "word",
            "docs",
            "occurrences",
            f6(F.col("docs") * 1.0 / F.col("n_docs")).alias("doc_frac"),
        )
        .orderBy(F.col("doc_frac").desc(), "word")
        .limit(25)
    )


@register(
    "t_source_signature",
    f"""
    WITH tok AS (
        SELECT source, word FROM (
            SELECT source,
                   unnest(string_split_regex(lower(text), '\\s+')) AS word
            FROM documents
        ) x
    ),
    sw AS (
        SELECT source, word, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY source, word
    ),
    stot AS (SELECT source, sum(c) AS st FROM sw GROUP BY source),
    wtot AS (SELECT word, sum(c) AS wt FROM sw GROUP BY word),
    n AS (SELECT sum(c) AS nt FROM sw),
    lift AS (
        SELECT sw.source, sw.word, sw.c,
               round(ln((sw.c * 1.0 / stot.st) / (wtot.wt * 1.0 / n.nt)),
                     6) + 0 AS log_lift
        FROM sw
        JOIN stot ON stot.source = sw.source
        JOIN wtot ON wtot.word = sw.word
        CROSS JOIN n
        WHERE sw.c >= 10
    )
    SELECT source, word, c, log_lift FROM (
        SELECT *, row_number() OVER (PARTITION BY source
                                     ORDER BY log_lift DESC, word) AS rn
        FROM lift
    ) WHERE rn <= 3
    ORDER BY source, log_lift DESC, word
    """,
)
def t_source_signature(spark, sf_dir):
    """Per-source keyword signatures: each source's top-3 words by
    log-lift (in-source rate vs corpus rate, min count 10) — the
    'what makes this feed different' triage that runs before deciding
    a source's mixture weight (t_domain_mix) or quality policy; the
    source-level cousin of t_collocations_pmi's popularity
    normalization (t_jsd_sources says HOW different; this says WHAT
    differs).

    Three vocabulary-bounded folds ((source, word), source totals,
    word totals) off one token pass; totals broadcast; the count floor
    prunes before ln(); top-3 per source is a WindowGroupLimit. All
    operands exact integers until the one log-lift per surviving pair.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
    )
    sw = tok.groupBy("source", "word").agg(F.count("*").cast("long").alias("c"))
    stot = sw.groupBy("source").agg(F.sum("c").alias("st"))
    wtot = sw.groupBy("word").agg(F.sum("c").alias("wt"))
    n = sw.agg(F.sum("c").alias("nt"))
    lift = (
        sw.where(F.col("c") >= 10)
        .join(F.broadcast(stot), "source")
        .join(F.broadcast(wtot), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "word",
            "c",
            f6(
                F.log(
                    (F.col("c") * 1.0 / F.col("st"))
                    / (F.col("wt") * 1.0 / F.col("nt"))
                )
            ).alias("log_lift"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("log_lift").desc(), "word")
    return (
        lift.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("source", "word", "c", "log_lift")
        .orderBy("source", F.col("log_lift").desc(), "word")
    )


@register(
    "t_compressibility",
    """
    WITH chars AS (
        SELECT d.source, t.chr, CAST(count(*) AS BIGINT) AS cnt
        FROM documents d, unnest(string_split(d.text, '')) AS t(chr)
        WHERE t.chr IS NOT NULL AND t.chr <> ''
        GROUP BY d.source, t.chr
    ),
    terms AS (
        SELECT source,
               CAST(round(cnt * 1.0 / sum(cnt) OVER (PARTITION BY source)
                          * log2(sum(cnt) OVER (PARTITION BY source)
                                 * 1.0 / cnt)
                          * 1e12) AS BIGINT) AS t12,
               cnt
        FROM chars
    )
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_chars,
           round(sum(t12) / 1e12, 6) + 0 AS bits_per_char,
           round(8.0 / (sum(t12) / 1e12), 6) + 0 AS est_ratio
    FROM terms
    GROUP BY source
    ORDER BY source
    """,
)
def t_compressibility(spark, sf_dir):
    """Compressibility estimate per source: zero-order character
    entropy as bits/char and the implied best-case 8/H compression
    ratio — the storage-planning number that predicts which feeds
    deserve zstd level 19 and which are already dense (near-8-bit
    entropy = pre-compressed or binary junk, which is ALSO t_char_
    entropy's per-doc gibberish signal read at the source level).

    Reuses the char-explode machinery at source granularity: the
    (source, char) count shuffles with map-side combine, entropy terms
    snap to 1e-12 BIGINT units inside the source clustering the
    window total and rollup share. Real codecs beat zero-order H via
    context modeling — the estimate is the planning FLOOR, stated as
    such.
    """
    docs = load_table(spark, sf_dir, "documents")
    chars = (
        docs.select("source", F.explode(F.split(F.col("text"), "")).alias("chr"))
        .where(F.col("chr").isNotNull() & (F.col("chr") != ""))
        .groupBy("source", "chr")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    tot = F.sum("cnt").over(Window.partitionBy("source"))
    t12 = F.round(
        F.col("cnt") * 1.0 / tot * F.log2(tot * 1.0 / F.col("cnt")) * 1e12
    ).cast("long")
    terms = chars.select("source", "cnt", t12.alias("t12"))
    return (
        terms.groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_chars"),
            F.sum("t12").alias("h12"),
        )
        .select(
            "source",
            "n_chars",
            f6(F.col("h12") / 1e12).alias("bits_per_char"),
            f6(8.0 / (F.col("h12") / 1e12)).alias("est_ratio"),
        )
        .orderBy("source")
    )


@register(
    "t_kneser_ney",
    r"""
    WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
                  FROM documents),
    pos AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks),
    bg AS (SELECT w[i] AS w1, w[i + 1] AS w2 FROM pos),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS tot,
                  CAST(count(*) AS BIGINT) AS n1plus_fwd
           FROM c12 GROUP BY w1),
    cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1plus_bwd
             FROM c12 GROUP BY w2),
    types AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c12)
    SELECT b.w1, b.w2, b.c,
           round((b.c - 0.75) / c1.tot
                 + 0.75 * c1.n1plus_fwd / c1.tot
                   * cont.n1plus_bwd / t.n_types, 6) + 0 AS p_kn
    FROM c12 b
    JOIN c1 ON c1.w1 = b.w1
    JOIN cont ON cont.w2 = b.w2
    CROSS JOIN types t
    ORDER BY b.c DESC, b.w1, b.w2 LIMIT 20
    """,
)
def t_kneser_ney(spark, sf_dir):
    """Kneser-Ney smoothed bigram probabilities (Kneser & Ney 1995,
    public; the interpolated form) for the corpus's top-20 bigrams —
    THE reference smoothing for count-based LMs, and the backbone of
    classic perplexity-based data filtering (the unigram/bigram NLL
    keys use add-k; KN is what production n-gram filters like CCNet's
    KenLM actually run). The signature idea is the CONTINUATION count:
    P_cont(w2) counts how many distinct contexts w2 follows, not how
    often — 'Francisco' is frequent but only ever follows 'San', so KN
    correctly refuses to predict it in new contexts.

    Everything is three aggregates off ONE bigram extraction (the
    t_ngram_bigram array-transform, no self-join): (w1,w2) counts, a
    per-w1 fold (totals + forward type counts), a per-w2 fold
    (backward continuation counts), and a 1-row type total that
    broadcasts. Discount d=0.75 is a shared literal; the max(c-d,0)
    clamp is unnecessary on observed bigrams (c >= 1 > d), so the
    formula divides exact integers once per output row. At 100 TB the
    count tables shuffle on vocabulary keys (corpus-sublinear) and the
    probability join is vocabulary-sized — never token-stream-sized.
    """
    bg = _bigram_pairs(spark, sf_dir)
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c"))
    c1 = c12.groupBy("w1").agg(
        F.sum("c").cast("long").alias("tot"),
        F.count("*").cast("long").alias("n1plus_fwd"),
    )
    cont = c12.groupBy("w2").agg(F.count("*").cast("long").alias("n1plus_bwd"))
    types = c12.agg(F.count("*").cast("long").alias("n_types"))
    return (
        c12.join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            "c",
            f6(
                (F.col("c") - 0.75) / F.col("tot")
                + 0.75
                * F.col("n1plus_fwd")
                / F.col("tot")
                * F.col("n1plus_bwd")
                / F.col("n_types")
            ).alias("p_kn"),
        )
        .orderBy(F.col("c").desc(), "w1", "w2")
        .limit(20)
    )


@register(
    "t_bloom_dedup",
    """
    WITH corpus AS (SELECT md5(text) AS digest FROM documents
                    WHERE doc_id % 5 <> 0 GROUP BY 1),
    batch AS (SELECT doc_id, lang, md5(text) AS digest FROM documents
              WHERE doc_id % 5 = 0)
    SELECT b.lang,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(count(*) FILTER (WHERE c.digest IS NULL) AS BIGINT) AS n_new,
           CAST(count(*) FILTER (WHERE c.digest IS NOT NULL) AS BIGINT)
               AS n_dup
    FROM batch b LEFT JOIN corpus c ON b.digest = c.digest
    GROUP BY b.lang
    """,
)
def t_bloom_dedup(spark, sf_dir):
    """t_incremental_dedup behind a BLOOM FILTER prefilter — the shape
    its own docstring promises for when even the digest shuffle is too
    hot. The filter is built RELATIONALLY (Spark exposes no SQL
    bloom_filter_agg): each corpus digest sets k=4 bit positions
    (xxhash64 with 4 seeds, mod m=20000 bits), the distinct set-bit
    table IS the bloom bitmap (<= m rows regardless of corpus size —
    that bound is the entire point of a bloom filter) and broadcasts;
    a batch digest is 'maybe seen' iff ALL 4 of its positions hit the
    bitmap. Bloom filters have no false negatives, so a miss is
    definitely-new with zero exact-join cost; the (rare) positives are
    adjudicated by the exact digest join, so the final census is
    IDENTICAL to the plain join\'s — the bloom changes the route, never
    the answer, which is exactly what the oracle checks (same SQL as
    t_incremental_dedup).

    At 100 TB: the bitmap table is O(m) rows — a fixed memory budget
    you size for the target FP rate (~1.2 bytes/item at 1%) — the
    4-position probe is map-side after one broadcast, and the exact
    join\'s probe side shrinks from \'every batch row\' to \'bloom
    positives\' (dups + ~1% FPs): a >100x shuffle cut at
    single-digit-percent dup rates.
    """
    m_bits, seeds = 20000, [0, 1, 2, 3]
    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.where(F.col("doc_id") % 5 != 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )

    def positions(df):
        pos = F.array(
            *[
                F.pmod(F.xxhash64("digest", F.lit(s)), F.lit(m_bits))
                for s in seeds
            ]
        )
        return df.select(df["*"], F.explode(pos).alias("bit"))

    bitmap = positions(corpus).select("bit").distinct().withColumn("set1", F.lit(1))
    batch = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id", "lang", F.md5("text").alias("digest")
    )
    probed = (
        positions(batch)
        .join(F.broadcast(bitmap), "bit", "left")
        .groupBy("doc_id", "lang", "digest")
        .agg((F.count("set1") == len(seeds)).alias("maybe"))
    )
    definite_new = probed.where(~F.col("maybe")).withColumn(
        "hit", F.lit(None).cast("int")
    )
    seen = corpus.withColumn("hit", F.lit(1))
    adjudicated = probed.where(F.col("maybe")).join(seen, "digest", "left")
    resolved = definite_new.unionByName(
        adjudicated.select(*definite_new.columns)
    )
    return resolved.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_batch"),
        F.count_if(F.col("hit").isNull()).cast("long").alias("n_new"),
        F.count_if(F.col("hit").isNotNull()).cast("long").alias("n_dup"),
    )


@register(
    "t_dp_counts",
    """
    WITH c AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
        GROUP BY lang
    ),
    u AS (
        SELECT lang, n,
               CAST(list_sum(list_transform(range(1, 9),
                    j -> (strpos('0123456789abcdef',
                          substring(md5('dp:' || lang), j, 1)) - 1)
                         * 16 ** (8 - j))) AS BIGINT)
                   / 4294967296.0 AS h
        FROM c
    )
    SELECT lang, n,
           round(n + (CASE WHEN h < 0.5 THEN 1.0 ELSE -1.0 END)
                     * ln(1.0 - 2.0 * abs(h - 0.5)) * (-1.0), 6) + 0
               AS dp_count
    FROM u ORDER BY lang
    """,
)
def t_dp_counts(spark, sf_dir):
    """Differentially-private per-language document counts: Laplace
    mechanism at epsilon=1 (sensitivity 1 for a unit-contribution count
    query, so scale b = 1) — the release pattern for sharing corpus
    composition stats without certifying any individual document's
    membership. The noise is HASH-deterministic: u = md5('dp:'||lang)/2^32
    inverted through the Laplace CDF (sign from u<0.5, magnitude
    -b·ln(1-2|u-0.5|)) — the a_permutation_test reproducibility recipe
    applied to privacy noise, so both engines (and reruns) release the
    IDENTICAL noisy value; a production system would swap the hash seed
    for a vaulted secret per release.

    Counts are one partial+final aggregate; noise is O(groups) scalar
    math on the aggregated axis. ln() is the only transcendental and
    both engines' 1-ulp noise sits ~1e-10 below the 6dp snap.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dp:"), F.col("lang"))), 1, 8), 16, 10
        ).cast("long")
        / 4294967296.0
    )
    sign = F.when(h < 0.5, 1.0).otherwise(-1.0)
    noise = sign * (-1.0) * F.log(1.0 - 2.0 * F.abs(h - 0.5))
    return (
        c.select("lang", "n", f6(F.col("n") + noise).alias("dp_count"))
        .orderBy("lang")
    )


@register(
    "t_dedup_best_survivor",
    r"""
    WITH scored AS (
        SELECT doc_id, lang, md5(text) AS digest,
               CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
                   AS n_tokens,
               CAST(len(list_distinct(string_split_regex(lower(text), '\s+')))
                    AS BIGINT) AS n_distinct
        FROM documents
    ),
    q AS (
        SELECT *,
               n_distinct * 1000000 // n_tokens AS q6
        FROM scored
    )
    SELECT digest,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(arg_max(doc_id, q6 * 100000000 - doc_id) AS BIGINT)
               AS survivor_id,
           arg_max(lang, q6 * 100000000 - doc_id) AS survivor_lang,
           CAST(max(q6) AS BIGINT) AS survivor_q6
    FROM q
    GROUP BY digest
    HAVING count(*) > 1
    ORDER BY digest
    """,
)
def t_dedup_best_survivor(spark, sf_dir):
    """Quality-aware survivor selection for exact dedup: among copies of
    the same text, keep the HIGHEST-quality row (distinct-token ratio,
    fixed-point 1e-6 units) instead of t_canonical_dedup's min-id — the
    production policy when duplicates differ in metadata quality (a
    cleanly-tagged copy beats an earlier-crawled mojibake one; here
    copies share text so the ratio ties and the LOWEST id breaks it,
    exercising exactly the tie path that makes naive max_by
    nondeterministic). Emits only digest groups with real duplicates.

    One scan computes the quality fixed-point map-side (integer
    floor-division — no float ratio to disagree on); survivor selection
    is arg_max over the packed key q6*1e8 − doc_id (monotone in
    (q6 desc, doc_id asc) since q6 ≤ 1e6 and ids < 1e8), the deterministic
    max_by idiom, in ONE partial+final aggregate keyed by digest — the
    t_exact_dedup_digest shuffle with a richer combiner. No windows, no
    second pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower("text"), r"\s+")
    scored = docs.select(
        "doc_id",
        "lang",
        F.md5("text").alias("digest"),
        F.size(w).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct"),
    )
    q = scored.withColumn(
        "q6", F.expr("(n_distinct * 1000000) div n_tokens")
    )
    key = F.col("q6") * 100000000 - F.col("doc_id")
    return (
        q.groupBy("digest")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.max_by("doc_id", key).cast("long").alias("survivor_id"),
            F.max_by("lang", key).alias("survivor_lang"),
            F.max("q6").cast("long").alias("survivor_q6"),
        )
        .where(F.col("n_copies") > 1)
        .orderBy("digest")
    )


@register(
    "t_novelty_curve",
    r"""
    WITH grams AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(w[i:i + 2], ' ')) AS g
        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
              FROM (SELECT doc_id,
                           string_split_regex(lower(text), '\s+') AS w
                    FROM documents))
    ),
    firstseen AS (
        SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
    ),
    per_doc AS (
        SELECT gr.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN fs.first_doc = gr.doc_id
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        FROM grams gr JOIN firstseen fs ON fs.g = gr.g
        GROUP BY gr.doc_id
    ),
    decile AS (
        SELECT *, ntile(10) OVER (ORDER BY doc_id) AS dec FROM per_doc
    )
    SELECT CAST(dec AS BIGINT) AS ingest_decile,
           CAST(sum(n_grams) AS BIGINT) AS n_grams,
           CAST(sum(n_novel) AS BIGINT) AS n_novel,
           round(sum(n_novel) * 1.0 / sum(n_grams), 6) + 0 AS novelty_rate
    FROM decile GROUP BY dec ORDER BY ingest_decile
    """,
)
def t_novelty_curve(spark, sf_dir):
    """Corpus novelty curve: for each ingest decile (doc_id order), the
    fraction of its word 3-grams never seen in ANY earlier document —
    the diminishing-returns diagnostic behind 'is more of this source
    still worth crawling?' (the scaling-laws data-curation question:
    when the marginal batch's novelty rate flattens toward the
    near-dup floor, additional ingestion buys tokens, not information;
    t_dedup_yield_curve measures the same decay for whole-doc dups,
    this measures it at the n-gram level where paraphrase and
    boilerplate hide).

    A gram's novelty owner is min(doc_id) — one aggregate over the
    distinct (doc, gram) stream, joined back gram-keyed (32-char
    digests shuffle, never text), then a per-doc fold and a 10-bucket
    ntile census. All counts exact integers; the only float is the
    final rate under a 6dp snap.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select("doc_id", F.split(F.lower("text"), r"\s+").alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(w) >= 3 THEN "
                    "transform(sequence(0, size(w) - 3),"
                    " i -> md5(concat_ws(' ', slice(w, i + 1, 3)))) "
                    "ELSE array() END"
                )
            ).alias("g"),
        )
        .distinct()
    )
    firstseen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(firstseen, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    dec = per_doc.withColumn("dec", F.ntile(10).over(Window.orderBy("doc_id")))
    return (
        dec.groupBy(F.col("dec").cast("long").alias("ingest_decile"))
        .agg(
            F.sum("n_grams").cast("long").alias("n_grams"),
            F.sum("n_novel").cast("long").alias("n_novel"),
            f6(F.sum("n_novel") * 1.0 / F.sum("n_grams")).alias("novelty_rate"),
        )
        .orderBy("ingest_decile")
    )


@register(
    "t_url_canonical_dedup",
    r"""
    WITH raw AS (
        SELECT doc_id, source,
               CASE doc_id % 4
                 WHEN 0 THEN 'https://' || source || '.example.com/item/'
                             || CAST(doc_id % 97 AS VARCHAR)
                 WHEN 1 THEN 'https://' || upper(source) || '.EXAMPLE.COM/item/'
                             || CAST(doc_id % 97 AS VARCHAR)
                 WHEN 2 THEN 'https://' || source || '.example.com:443/item/'
                             || CAST(doc_id % 97 AS VARCHAR) || '/'
                 ELSE 'https://' || source || '.example.com/item/'
                      || CAST(doc_id % 97 AS VARCHAR)
                      || '?utm_source=feed&utm_medium=rss#top'
               END AS url
        FROM documents
    ),
    canon AS (
        SELECT source,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(lower(url), '#.*$', ''),
                     '\?utm.*$', ''),
                   ':443', ''),
                 '/$', '') AS curl
        FROM raw
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(count(DISTINCT curl) AS BIGINT) AS n_canonical,
           round(1.0 - count(DISTINCT curl) * 1.0 / count(*), 6) + 0
               AS dup_rate
    FROM canon GROUP BY source ORDER BY source
    """,
)
def t_url_canonical_dedup(spark, sf_dir):
    """URL-canonicalization dedup census — the cheapest dedup tier in a
    web-crawl pipeline, run BEFORE any content hashing: the same page
    arrives under case-varied hosts, explicit default ports, tracking
    parameters, fragments, and trailing slashes, and collapsing those
    at the manifest level avoids fetching/hashing the content at all.
    Deterministic messy URLs are synthesized per doc (the fn_ipv4_cidr
    precedent for columns the fixtures lack): four raw variants per
    canonical target, so the canonicalizer must fix case, strip
    ':443', '#fragment', '?utm_*' tracking, and trailing '/' to find
    the planted collisions (path id = doc_id % 97 per source).

    The canonicalizer is the SAME regex chain in both engines (lower →
    drop fragment → drop utm query → drop default port → drop trailing
    slash — order matters and is identical), all map-side codegen; the
    only shuffle is the per-source distinct-count rollup. At 100 TB
    this is one linear pass over the crawl manifest with a
    count-distinct whose key space is the canonical URL set.
    """
    docs = load_table(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 97).cast("string")
    base = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/item/"), k
    )
    raw = docs.select(
        "source",
        F.when(F.col("doc_id") % 4 == 0, base)
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("https://"),
                F.upper(F.col("source")),
                F.lit(".EXAMPLE.COM/item/"),
                k,
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://"),
                F.col("source"),
                F.lit(".example.com:443/item/"),
                k,
                F.lit("/"),
            ),
        )
        .otherwise(F.concat(base, F.lit("?utm_source=feed&utm_medium=rss#top")))
        .alias("url"),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("url")), "#.*$", ""),
                r"\?utm.*$",
                "",
            ),
            ":443",
            "",
        ),
        "/$",
        "",
    )
    return (
        raw.select("source", curl.alias("curl"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_raw"),
            F.countDistinct("curl").cast("long").alias("n_canonical"),
            f6(1.0 - F.countDistinct("curl") * 1.0 / F.count("*")).alias(
                "dup_rate"
            ),
        )
        .orderBy("source")
    )


_H32_DOC = """
    CAST(list_sum(list_transform(range(1, 9),
        j -> (strpos('0123456789abcdef',
                     substring(md5(CAST(doc_id AS VARCHAR)), j, 1)) - 1)
             * 16 ** (8 - j))) AS BIGINT)
"""


@register(
    "t_weighted_sample_aes",
    f"""
    WITH k AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
               round(ln(({_H32_DOC} % 1000000 + 0.5) / 1e6)
                     / CAST(n_chars AS BIGINT), 12) + 0 AS akey
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, w, akey, rn FROM (
        SELECT *, CAST(row_number() OVER (ORDER BY akey DESC, doc_id)
                       AS BIGINT) AS rn
        FROM k
    ) WHERE rn <= 200
    """,
)
def t_weighted_sample_aes(spark, sf_dir):
    """Weighted sampling WITHOUT replacement by the Efraimidis-Spirakis
    A-ES scheme (2006, public) — the distributed-safe way to draw a
    w-proportional sample (here: length-weighted docs for a data-mixing
    stage) in ONE pass with no sequential state: each item gets key
    u^(1/w) for uniform u, and the k largest keys ARE a weighted
    sample without replacement. Ranking by ln(u)/w is the monotone
    equivalent (no pow), u derives from the repo's md5-first-8-hex
    uint32 recipe so both engines draw identical 'randomness', and the
    key snaps to 12dp before ranking (libm ln can differ in the last
    ulp across engines; after the snap, ties break on doc_id) — fully
    deterministic top-200.

    Scale: key assignment is map-side codegen; selection is
    orderBy().limit(200) — a TRUE TakeOrderedAndProject (per-partition
    top-k, k-row merge at the driver side of the exchange), guaranteed
    by the plan shape itself rather than relying on the
    InferWindowGroupLimit rule (3.5+) to rescue a global row_number
    window. The rank column is then a row_number over the ALREADY
    200-row result — a single bounded partition at any corpus size.
    This is the reservoir-sampling answer for distributed engines:
    A-ES keys make 'reservoir' = 'top-k', which Spark already does
    scalably.
    """
    docs = load_table(spark, sf_dir, "documents")
    h32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h32 % 1000000 + 0.5) / 1e6
    k = docs.where(F.col("n_chars") > 0).select(
        "doc_id",
        F.col("n_chars").cast("long").alias("w"),
        (F.round(F.log(u) / F.col("n_chars").cast("long"), 12) + 0).alias(
            "akey"
        ),
    )
    top = k.orderBy(F.col("akey").desc(), "doc_id").limit(200)
    w_rank = Window.orderBy(F.col("akey").desc(), "doc_id")
    return (
        top.withColumn("rn", F.row_number().over(w_rank).cast("long"))
        .select("doc_id", "w", "akey", "rn")
    )


@register(
    "t_mixture_em",
    """
    WITH x AS (
        SELECT CAST(n_chars AS BIGINT) AS x FROM documents WHERE n_chars > 0
    ),
    e AS (
        SELECT x,
               0.5 * exp(-((x - 150.0) * (x - 150.0)) / (2.0 * 60.0 * 60.0))
                   / 60.0 AS a,
               0.5 * exp(-((x - 350.0) * (x - 350.0)) / (2.0 * 120.0 * 120.0))
                   / 120.0 AS b
        FROM x
    ),
    r AS (
        SELECT x, CAST(round(a / (a + b) * 1e6) AS BIGINT) AS r1 FROM e
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(r1) AS BIGINT) AS s1,
               CAST(sum(r1 * x) AS BIGINT) AS sx1,
               CAST(sum(r1 * x * x) AS BIGINT) AS sxx1,
               CAST(sum(1000000 - r1) AS BIGINT) AS s2,
               CAST(sum((1000000 - r1) * x) AS BIGINT) AS sx2,
               CAST(sum((1000000 - r1) * x * x) AS BIGINT) AS sxx2
        FROM r
    )
    SELECT CAST(1 AS BIGINT) AS component,
           round(s1 * 1.0 / n / 1e6, 6) + 0 AS pi_new,
           round(sx1 * 1.0 / s1, 6) + 0 AS mu_new,
           round(sqrt(sxx1 * 1.0 / s1
                      - (sx1 * 1.0 / s1) * (sx1 * 1.0 / s1)), 6) + 0
               AS sigma_new
    FROM agg
    UNION ALL
    SELECT CAST(2 AS BIGINT),
           round(s2 * 1.0 / n / 1e6, 6) + 0,
           round(sx2 * 1.0 / s2, 6) + 0,
           round(sqrt(sxx2 * 1.0 / s2
                      - (sx2 * 1.0 / s2) * (sx2 * 1.0 / s2)), 6) + 0
    FROM agg ORDER BY component
    """,
)
def t_mixture_em(spark, sf_dir):
    """One EM step for a 2-component Gaussian mixture over document
    lengths — the length-distribution decomposition behind 'short-form
    vs long-form' corpus splits (a mixture fit separates the two modes
    a single a_stats mean smears together; iterate this step and it IS
    the EM fit, each iteration one pass exactly like r_kmeans_step's
    Lloyd iteration). Fixed deterministic initialization (π=.5,
    μ=150/350, σ=60/120 — the two fixture modes).

    Cross-engine float discipline for a genuinely transcendental
    E-step: responsibilities come from exp() (libm, last-ulp risk), so
    each responsibility SNAPS to a 1e-6 integer before any sum — the
    M-step moment sums then accumulate as exact BIGINTs (r·x² stays
    under 2^63 with six-digit responsibilities and realistic lengths),
    making the reduction order-free; the boundary where a 1-ulp pdf
    difference flips the snap is measure-zero. E-step is map-side
    codegen, M-step ONE partial+final aggregate — a full EM iteration
    costs one shuffle of 7 numbers at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    x = docs.where(F.col("n_chars") > 0).select(
        F.col("n_chars").cast("long").alias("x")
    )
    xf = F.col("x").cast("double")
    a = 0.5 * F.exp(-((xf - 150.0) * (xf - 150.0)) / (2.0 * 60.0 * 60.0)) / 60.0
    b = (
        0.5
        * F.exp(-((xf - 350.0) * (xf - 350.0)) / (2.0 * 120.0 * 120.0))
        / 120.0
    )
    r = x.select(
        "x", F.round(a / (a + b) * 1e6).cast("long").alias("r1")
    )
    agg = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("r1").cast("long").alias("s1"),
        F.sum(F.col("r1") * F.col("x")).cast("long").alias("sx1"),
        F.sum(F.col("r1") * F.col("x") * F.col("x")).cast("long").alias("sxx1"),
        F.sum(F.lit(1000000) - F.col("r1")).cast("long").alias("s2"),
        F.sum((F.lit(1000000) - F.col("r1")) * F.col("x"))
        .cast("long")
        .alias("sx2"),
        F.sum((F.lit(1000000) - F.col("r1")) * F.col("x") * F.col("x"))
        .cast("long")
        .alias("sxx2"),
    )
    def comp(k, s, sx, sxx):
        mu = F.col(sx) * 1.0 / F.col(s)
        return agg.select(
            F.lit(k).cast("long").alias("component"),
            f6(F.col(s) * 1.0 / F.col("n") / 1e6).alias("pi_new"),
            f6(mu).alias("mu_new"),
            f6(F.sqrt(F.col(sxx) * 1.0 / F.col(s) - mu * mu)).alias(
                "sigma_new"
            ),
        )

    return comp(1, "s1", "sx1", "sxx1").unionByName(
        comp(2, "s2", "sx2", "sxx2")
    ).orderBy("component")


@register(
    "t_fim_transform",
    """
    WITH sp AS (
        SELECT doc_id, text, length(text) AS L,
               1 + (length(text) * 3) // 10 AS p_end,
               1 + (length(text) * 7) // 10 AS m_end
        FROM documents WHERE length(text) >= 20
    ),
    parts AS (
        SELECT doc_id, L,
               substring(text, 1, p_end) AS prefix,
               substring(text, p_end + 1, m_end - p_end) AS middle,
               substring(text, m_end + 1) AS suffix
        FROM sp
    )
    SELECT doc_id,
           CAST(length(prefix) AS BIGINT) AS n_prefix,
           CAST(length(middle) AS BIGINT) AS n_middle,
           CAST(length(suffix) AS BIGINT) AS n_suffix,
           CASE WHEN doc_id % 2 = 0
                THEN '<PRE>' || prefix || '<SUF>' || suffix
                     || '<MID>' || middle
                ELSE '<SUF>' || suffix || '<PRE>' || prefix
                     || '<MID>' || middle END AS fim_text,
           CAST(length(prefix) + length(middle) + length(suffix)
                AS BIGINT) = CAST(L AS BIGINT) AS lossless
    FROM parts ORDER BY doc_id
    """,
)
def t_fim_transform(spark, sf_dir):
    """Fill-in-the-middle training transform (Bavarian et al. 2022,
    public 'FIM' paper): each document splits into prefix/middle/suffix
    at deterministic 30%/70% character boundaries and re-serializes
    with sentinel tokens in PSM order — and, per the paper's 50/50
    recipe, HALF the corpus (doc_id parity standing in for the random
    coin) uses SPM order instead, which is what teaches the model both
    completion styles. The lossless flag asserts the three spans
    reconstruct the original length exactly — a character lost at a
    split boundary corrupts every training example silently, so the
    invariant is part of the output contract.

    Pure substring arithmetic on integer character offsets — identical
    in both engines, wholly map-side codegen, zero shuffle (the ORDER
    BY is presentation only). At 100 TB this runs at scan speed as a
    stage in t_pipeline_e2e-style corpus preparation; the sentinel
    strings would be tokenizer specials downstream.
    """
    docs = load_table(spark, sf_dir, "documents")
    sp = docs.where(F.length("text") >= 20).select(
        "doc_id",
        "text",
        F.length("text").alias("L"),
        (1 + F.floor(F.length("text") * 3 / 10)).cast("int").alias("p_end"),
        (1 + F.floor(F.length("text") * 7 / 10)).cast("int").alias("m_end"),
    )
    parts = sp.select(
        "doc_id",
        "L",
        F.expr("substring(text, 1, p_end)").alias("prefix"),
        F.expr("substring(text, p_end + 1, m_end - p_end)").alias("middle"),
        F.expr("substring(text, m_end + 1)").alias("suffix"),
    )
    psm = F.concat(
        F.lit("<PRE>"), F.col("prefix"), F.lit("<SUF>"), F.col("suffix"),
        F.lit("<MID>"), F.col("middle"),
    )
    spm = F.concat(
        F.lit("<SUF>"), F.col("suffix"), F.lit("<PRE>"), F.col("prefix"),
        F.lit("<MID>"), F.col("middle"),
    )
    return parts.select(
        "doc_id",
        F.length("prefix").cast("long").alias("n_prefix"),
        F.length("middle").cast("long").alias("n_middle"),
        F.length("suffix").cast("long").alias("n_suffix"),
        F.when(F.col("doc_id") % 2 == 0, psm).otherwise(spm).alias("fim_text"),
        (
            (
                F.length("prefix") + F.length("middle") + F.length("suffix")
            ).cast("long")
            == F.col("L").cast("long")
        ).alias("lossless"),
    ).orderBy("doc_id")


@register(
    "t_doc_coalesce",
    """
    WITH o AS (
        SELECT source, doc_id, n_chars,
               sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS csum
        FROM documents
    ),
    assigned AS (
        SELECT source, doc_id, n_chars,
               CAST((csum - 1) // 2000 AS BIGINT) AS chunk_id
        FROM o
    )
    SELECT source, chunk_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chunk_chars,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM assigned GROUP BY source, chunk_id
    ORDER BY source, chunk_id
    """,
)
def t_doc_coalesce(spark, sf_dir):
    """Short-document coalescing into ~2000-char training chunks per
    source — the packing complement to t_chunk_docs (which SPLITS long
    docs; real corpora need both directions before tokenization:
    under-length examples waste sequence slots and over-fragment the
    attention window). Assignment is the running-character-count
    bucket trick: chunk_id = (cumsum − 1) // target over the
    (source)-ordered stream — one window, no iterative packing loop,
    deterministic on any engine, and each chunk's membership is a
    CONTIGUOUS doc_id range (first/last columns prove it), which is
    what keeps provenance trackable after the merge.

    One exchange on source serves the cumsum and the rollup. The
    greedy-contiguous policy overshoots each boundary by at most one
    document — the standard streaming-packing tradeoff (optimal
    bin-packing is NP-hard and non-streaming); t_pack_sequences makes
    the same call for token sequences. Linear at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    assigned = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.floor((F.sum("n_chars").over(w) - 1) / 2000)
        .cast("long")
        .alias("chunk_id"),
    )
    return (
        assigned.groupBy("source", "chunk_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chunk_chars"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
        .orderBy("source", "chunk_id")
    )


@register(
    "t_prep_pipeline_r7",
    r"""
    WITH raw AS (
        SELECT doc_id, source, n_chars,
               CASE doc_id % 4
                 WHEN 0 THEN 'https://' || source || '.example.com/item/'
                             || CAST(doc_id % 97 AS VARCHAR)
                 WHEN 1 THEN 'https://' || upper(source) || '.EXAMPLE.COM/item/'
                             || CAST(doc_id % 97 AS VARCHAR)
                 WHEN 2 THEN 'https://' || source || '.example.com:443/item/'
                             || CAST(doc_id % 97 AS VARCHAR) || '/'
                 ELSE 'https://' || source || '.example.com/item/'
                      || CAST(doc_id % 97 AS VARCHAR)
                      || '?utm_source=feed&utm_medium=rss#top'
               END AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id, source, n_chars,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   lower(url), '#.*$', ''), '\?utm.*$', ''), ':443', ''),
                   '/$', '') AS curl
        FROM raw
    ),
    survivors AS (
        SELECT doc_id, source, n_chars FROM (
            SELECT *, row_number() OVER (PARTITION BY curl
                                         ORDER BY doc_id) AS rn
            FROM canon
        ) WHERE rn = 1
    ),
    chunks AS (
        SELECT source, doc_id, n_chars,
               (sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) - 1) // 2000
                   AS chunk_id
        FROM survivors
    )
    SELECT source,
           CAST((SELECT count(*) FROM raw r WHERE r.source = c.source)
                AS BIGINT) AS n_docs_in,
           CAST(count(*) AS BIGINT) AS n_survivors,
           CAST(count(DISTINCT chunk_id) AS BIGINT) AS n_chunks,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN n_chars >= 20 THEN 1 ELSE 0 END) AS BIGINT)
               AS fim_eligible
    FROM chunks c GROUP BY source ORDER BY source
    """,
)
def t_prep_pipeline_r7(spark, sf_dir):
    """Round-7 prep stack composed end to end as ONE DataFrame DAG:
    manifest-level URL-canonicalization dedup (t_url_canonical_dedup's
    regex chain, min-doc-id survivor per canonical URL) → contiguous
    chunk coalescing over the survivors (t_doc_coalesce's cumsum
    bucketing) → FIM-eligibility census (t_fim_transform's length
    gate), reported per source. The point is COMPOSITION: each stage
    is the registered operator's logic verbatim, fused by Catalyst
    into one plan — no intermediate materialization, the property
    that makes a multi-stage prep pipeline run at scan speed instead
    of N job boundaries (the same argument t_pipeline_e2e makes for
    the dedup stack, extended to the round-7 stages).

    Shuffles: one on the canonical URL (survivor window), one on
    source (chunk cumsum + rollup) — the minimum the semantics allow;
    everything else is map-side codegen. Output is |sources| rows at
    any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 97).cast("string")
    base = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/item/"), k
    )
    url = (
        F.when(F.col("doc_id") % 4 == 0, base)
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("https://"), F.upper(F.col("source")),
                F.lit(".EXAMPLE.COM/item/"), k,
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".example.com:443/item/"), k, F.lit("/"),
            ),
        )
        .otherwise(F.concat(base, F.lit("?utm_source=feed&utm_medium=rss#top")))
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), "#.*$", ""), r"\?utm.*$", ""
            ),
            ":443",
            "",
        ),
        "/$",
        "",
    )
    canon = docs.select("doc_id", "source", "n_chars", curl.alias("curl"))
    w_surv = Window.partitionBy("curl").orderBy("doc_id")
    survivors = (
        canon.withColumn("rn", F.row_number().over(w_surv))
        .where(F.col("rn") == 1)
        .select("doc_id", "source", "n_chars")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunks = survivors.select(
        "source",
        "n_chars",
        F.floor((F.sum("n_chars").over(w_cum) - 1) / 2000).alias("chunk_id"),
    )
    n_in = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs_in")
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_survivors"),
            F.countDistinct("chunk_id").cast("long").alias("n_chunks"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(F.when(F.col("n_chars") >= 20, 1).otherwise(0))
            .cast("long")
            .alias("fim_eligible"),
        )
        .join(n_in, "source")
        .select(
            "source", "n_docs_in", "n_survivors", "n_chunks",
            "total_chars", "fim_eligible",
        )
        .orderBy("source")
    )


@register(
    "t_blocklist_filter",
    f"""
    WITH tok AS (SELECT DISTINCT doc_id, lang, word FROM ({TOKENS_SQL})),
    block AS (
        SELECT word FROM (SELECT DISTINCT word FROM tok)
        WHERE {_H32_DOC.replace('doc_id', 'word').replace('CAST(word AS VARCHAR)', 'word')} % 29 = 0
    ),
    hits AS (
        SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM tok t JOIN block b ON b.word = t.word
        GROUP BY t.doc_id
    ),
    docs AS (
        SELECT d.doc_id, d.source, coalesce(h.n_hits, 0) AS n_hits
        FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(sum(CASE WHEN n_hits >= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quarantined,
           round(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) + 0 AS flag_rate
    FROM docs GROUP BY source ORDER BY source
    """,
)
def t_blocklist_filter(spark, sf_dir):
    """Blocklist safety filter — the wordlist pass every training corpus
    runs before quality scoring (C4 famously dropped ~5% of the crawl
    on one): documents are scored by DISTINCT blocked-term hits, soft-
    flagged at ≥1 and quarantined at ≥3 (the two-threshold policy that
    keeps single-incidental-mention docs while removing concentrated
    content), reported per source — the triage view that catches a
    whole feed gone bad. The blocklist here is a deterministic 1/29
    hash sample of the vocabulary (the fixtures' synthetic words carry
    no real unsafe terms; the PLUMBING — broadcast term join, distinct-
    hit scoring, threshold census — is exactly the production filter).

    The blocklist broadcasts (real lists are 10³-10⁵ terms); hits
    aggregate per doc on the token exchange every t_* key shares; the
    census is a |sources|-key rollup. Linear at any corpus size, and
    the flag/quarantine split means downstream can route soft flags to
    review instead of deleting them.
    """
    tok = tokens(spark, sf_dir).select("doc_id", "word").distinct()
    docs = load_table(spark, sf_dir, "documents")
    h32w = F.conv(F.substring(F.md5(F.col("word")), 1, 8), 16, 10).cast("long")
    block = (
        tok.select("word").distinct().where(h32w % 29 == 0).select("word")
    )
    hits = (
        tok.join(F.broadcast(block), "word")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    d = docs.join(hits, "doc_id", "left").select(
        "source", F.coalesce("n_hits", F.lit(0)).alias("n_hits")
    )
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_flagged"),
            F.sum(F.when(F.col("n_hits") >= 3, 1).otherwise(0))
            .cast("long")
            .alias("n_quarantined"),
            f6(
                F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0))
                * 1.0
                / F.count("*")
            ).alias("flag_rate"),
        )
        .orderBy("source")
    )


@register(
    "t_readability",
    """
    WITH per_doc AS (
        SELECT source,
               CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT)
                   AS words,
               CAST(greatest(length(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS sentences,
               CAST(greatest(length(regexp_extract_all(lower(text),
                                                       '[aeiouy]+')), 1)
                    AS BIGINT) AS syllables
        FROM documents
    ),
    scored AS (
        SELECT source, words, sentences, syllables,
               206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                       - 84.6 * (CAST(syllables AS DOUBLE) / words)
                   AS flesch
        FROM per_doc WHERE words > 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(words) AS BIGINT) AS total_words,
           round(CAST(sum(CAST(round(flesch * 1e6) AS BIGINT)) AS DOUBLE)
                 / 1e6 / count(*), 6) + 0 AS avg_flesch,
           CAST(sum(CASE WHEN flesch >= 70 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_easy,
           CAST(sum(CASE WHEN flesch >= 50 AND flesch < 70
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_standard,
           CAST(sum(CASE WHEN flesch >= 30 AND flesch < 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_difficult,
           CAST(sum(CASE WHEN flesch < 30 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_very_difficult
    FROM scored GROUP BY source ORDER BY source
    """,
)
def t_readability(spark, sf_dir):
    """Flesch reading-ease census per source — the READABILITY quality
    signal (FineWeb-Edu/Gopher-style pipelines gate on it) that
    t_quality_score's length/diversity/stopword ratios don't capture:
    206.835 − 1.015·(words/sentence) − 84.6·(syllables/word), with
    syllables approximated as vowel GROUPS (the standard dictionary-
    free heuristic — 'readability' → eaaiiy → 4 groups).  Per-source
    rollup plus the four classic difficulty buckets, so a corpus mix
    decision can weight sources by reading level.

    Everything is three doc-level regexp counts (words \\S+, sentence
    terminators [.!?]+, vowel groups) — no explode, no UDF, one scan,
    JVM-side regexp in Spark / RE2 in DuckDB over the same patterns.
    Per-doc Flesch is ONE float association of those integers, snapped
    to a 1e-6 BIGINT before the per-source mean so the rollup is
    reduction-order-free; bucket edges compare the raw float
    identically in both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.regexp_count(F.col("text"), F.lit(r"\S+"))
        .cast("long")
        .alias("words"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
        )
        .cast("long")
        .alias("sentences"),
        F.greatest(
            F.regexp_count(F.lower("text"), F.lit(r"[aeiouy]+")),
            F.lit(1),
        )
        .cast("long")
        .alias("syllables"),
    )
    flesch = (
        206.835
        - 1.015 * (F.col("words").cast("double") / F.col("sentences"))
        - 84.6 * (F.col("syllables").cast("double") / F.col("words"))
    )
    scored = per_doc.where(F.col("words") > 0).select(
        "source",
        "words",
        flesch.alias("flesch"),
        F.round(flesch * 1e6).cast("long").alias("f6i"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("words").cast("long").alias("total_words"),
            f6(
                F.sum("f6i").cast("double") / 1e6 / F.count("*")
            ).alias("avg_flesch"),
            F.sum(F.when(F.col("flesch") >= 70, 1).otherwise(0))
            .cast("long")
            .alias("n_easy"),
            F.sum(
                F.when(
                    (F.col("flesch") >= 50) & (F.col("flesch") < 70), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_standard"),
            F.sum(
                F.when(
                    (F.col("flesch") >= 30) & (F.col("flesch") < 50), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_difficult"),
            F.sum(F.when(F.col("flesch") < 30, 1).otherwise(0))
            .cast("long")
            .alias("n_very_difficult"),
        )
        .orderBy("source")
    )


@register(
    "t_k_anonymity",
    """
    WITH qi AS (
        SELECT lang, source, n_chars // 500 AS len_bucket,
               CAST(count(*) AS BIGINT) AS grp
        FROM documents GROUP BY 1, 2, 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(grp) AS BIGINT) AS n_rows,
           CAST(min(grp) AS BIGINT) AS k_anonymity,
           CAST(sum(CASE WHEN grp < 5 THEN grp ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
           round(sum(CASE WHEN grp < 5 THEN grp ELSE 0 END) * 1.0
                 / sum(grp), 6) + 0 AS risk_share,
           CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singletons
    FROM qi
    """,
)
def t_k_anonymity(spark, sf_dir):
    """k-anonymity census over quasi-identifiers — the PRIVACY AUDIT
    that precedes any data release (Sweeney 2002, public): group the
    corpus by the attacker-joinable attributes (language, source,
    length bucket — the metadata that survives scrubbing), and report
    the dataset's k (smallest group), the rows living in groups under
    k=5, and the singleton count — rows a linkage attack pins
    uniquely.  t_scrub_pii removes identifiers IN the text;
    t_dp_counts noises the outputs; this key measures the
    re-identification surface of what remains — the three compose
    into the standard release checklist.

    One map-side-combinable groupBy over the scan (the QI tuple is the
    shuffle key), one bounded rollup; every number is an exact BIGINT
    except the single share division.
    """
    docs = load_table(spark, sf_dir, "documents")
    qi = docs.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 500).alias("len_bucket"),
    ).agg(F.count("*").cast("long").alias("grp"))
    return qi.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum("grp").cast("long").alias("n_rows"),
        F.min("grp").cast("long").alias("k_anonymity"),
        F.sum(F.when(F.col("grp") < 5, F.col("grp")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        f6(
            F.sum(F.when(F.col("grp") < 5, F.col("grp")).otherwise(0))
            * 1.0
            / F.sum("grp")
        ).alias("risk_share"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_singletons"),
    )


@register(
    "t_naive_bayes_lid",
    r"""
    WITH docs AS (
        SELECT doc_id, lang, lower(text) AS t,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                         IN ('0', '1', '2', '3')
                    THEN 1 ELSE 0 END AS is_test
        FROM documents
    ),
    tok AS (
        SELECT doc_id, lang, is_test, w
        FROM (SELECT doc_id, lang, is_test,
                     unnest(string_split_regex(t, '\s+')) AS w
              FROM docs)
        WHERE w <> ''
    ),
    cnt AS (
        SELECT w, lang AS c, CAST(count(*) AS BIGINT) AS n
        FROM tok WHERE is_test = 0 GROUP BY 1, 2
    ),
    classes AS (
        SELECT lang AS c, CAST(count(*) AS BIGINT) AS nd
        FROM docs WHERE is_test = 0 GROUP BY 1
    ),
    tc AS (
        SELECT c, CAST(sum(n) AS BIGINT) AS tn FROM cnt GROUP BY c
    ),
    vocab AS (SELECT DISTINCT w FROM cnt),
    vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    grid AS (
        SELECT vo.w, cl.c,
               CAST(round(ln((coalesce(cn.n, 0) + 1.0)
                             / (tc.tn + vs.v)) * 1e9) AS BIGINT) AS ll9
        FROM vocab vo
        CROSS JOIN classes cl
        CROSS JOIN vsize vs
        JOIN tc ON tc.c = cl.c
        LEFT JOIN cnt cn ON cn.w = vo.w AND cn.c = cl.c
    ),
    fallback AS (
        SELECT tc.c,
               CAST(round(ln(1.0 / (tc.tn + vs.v)) * 1e9) AS BIGINT)
                   AS fb9
        FROM tc CROSS JOIN vsize vs
    ),
    prior AS (
        SELECT c, CAST(round(ln(nd * 1.0 / (SELECT sum(nd) FROM classes))
                             * 1e9) AS BIGINT) AS pr9
        FROM classes
    ),
    scored AS (
        SELECT t.doc_id, t.lang, f.c,
               CAST(sum(coalesce(g.ll9, f.fb9)) AS BIGINT) AS s9
        FROM tok t
        CROSS JOIN fallback f
        LEFT JOIN grid g ON g.w = t.w AND g.c = f.c
        WHERE t.is_test = 1
        GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT doc_id, lang, c AS pred_lang FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id
                ORDER BY s9 + (SELECT pr9 FROM prior p WHERE p.c
                               = scored.c) DESC, c
            ) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) + 0 AS accuracy
    FROM pred GROUP BY lang ORDER BY lang
    """,
)
def t_naive_bayes_lid(spark, sf_dir):
    """Multinomial naive Bayes TRAINED IN-PLAN — the classifier shape
    modern curation pipelines run at corpus scale (FineWeb-Edu's
    quality classifier, CCNet's LM filter): fit = one groupBy (word,
    class) count with Laplace smoothing, score = one token-to-grid
    join + per-doc BIGINT sum, eval = exact accuracy per class on a
    deterministic md5 holdout (25%).  Unlike t_lang_id/t_trigram_lid
    (fixed heuristic profiles), the likelihoods here are LEARNED from
    the training split — train/score/eval is the complete supervised
    loop with no driver-side model object, no MLlib, no UDF.

    Engine-exactness: every ln-likelihood and ln-prior snaps to a
    1e-9 BIGINT on the bounded vocab×class grid, so per-doc scores
    are exact integer sums (reduction-order-free at any parallelism)
    and argmax breaks ties on class name.  Scale: the grid is vocab-
    bounded (production caps vocab by document frequency), the only
    data-scale passes are the token count and the scoring join — both
    word-keyed shuffles.  The fixture's synthetic 31-word shared
    vocabulary means near-chance accuracy; the MECHANICS (smoothing,
    fallback for unseen words, holdout discipline) are what the
    oracle pins.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.lower("text").alias("t"),
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
                "0", "1", "2", "3"
            ),
            1,
        )
        .otherwise(0)
        .alias("is_test"),
    )
    tok = (
        docs.select(
            "doc_id",
            "lang",
            "is_test",
            F.explode(F.split(F.col("t"), r"\s+")).alias("w"),
        )
        .where(F.col("w") != "")
    )
    train = tok.where(F.col("is_test") == 0)
    cnt = train.groupBy("w", F.col("lang").alias("c")).agg(
        F.count("*").cast("long").alias("n")
    )
    classes = (
        docs.where(F.col("is_test") == 0)
        .groupBy(F.col("lang").alias("c"))
        .agg(F.count("*").cast("long").alias("nd"))
    )
    tc = cnt.groupBy("c").agg(F.sum("n").cast("long").alias("tn"))
    vocab = cnt.select("w").distinct()
    vsize = vocab.agg(F.count("*").cast("long").alias("v"))
    grid = (
        vocab.crossJoin(classes.select("c"))
        .crossJoin(F.broadcast(vsize))
        .join(tc, "c")
        .join(cnt, ["w", "c"], "left")
        .select(
            "w",
            "c",
            F.round(
                F.log(
                    (F.coalesce(F.col("n"), F.lit(0)) + 1.0)
                    / (F.col("tn") + F.col("v"))
                )
                * 1e9
            )
            .cast("long")
            .alias("ll9"),
        )
    )
    fallback = tc.crossJoin(F.broadcast(vsize)).select(
        "c",
        F.round(F.log(1.0 / (F.col("tn") + F.col("v"))) * 1e9)
        .cast("long")
        .alias("fb9"),
    )
    total_nd = classes.agg(F.sum("nd").alias("tot"))
    prior = classes.crossJoin(F.broadcast(total_nd)).select(
        "c",
        F.round(F.log(F.col("nd") * 1.0 / F.col("tot")) * 1e9)
        .cast("long")
        .alias("pr9"),
    )
    test_tok = tok.where(F.col("is_test") == 1).select(
        "doc_id", "lang", "w"
    )
    scored = (
        test_tok.crossJoin(F.broadcast(fallback))
        .join(F.broadcast(grid), ["w", "c"], "left")
        .groupBy("doc_id", "lang", "c")
        .agg(
            F.sum(F.coalesce(F.col("ll9"), F.col("fb9")))
            .cast("long")
            .alias("s9")
        )
        .join(F.broadcast(prior), "c")
        .select(
            "doc_id",
            "lang",
            "c",
            (F.col("s9") + F.col("pr9")).alias("score"),
        )
    )
    wp = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), "c"
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") == 1)
        .select("lang", F.col("c").alias("pred_lang"))
    )
    return (
        pred.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "lang",
            "n_test",
            "n_correct",
            f6(F.col("n_correct") * 1.0 / F.col("n_test")).alias(
                "accuracy"
            ),
        )
        .orderBy("lang")
    )


@register(
    "t_heaps_law",
    r"""
    WITH tok AS (
        SELECT doc_id, w
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(text), '\s+')) AS w
              FROM documents)
        WHERE w <> ''
    ),
    firstseen AS (
        SELECT w, CAST(min(doc_id) AS BIGINT) AS fd FROM tok GROUP BY w
    ),
    doctok AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS nt
        FROM tok GROUP BY doc_id
    ),
    nn AS (SELECT CAST(max(doc_id) AS BIGINT) AS dmax FROM doctok),
    cuts AS (
        SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS c
    ),
    pts AS (
        SELECT c.c,
               CAST((SELECT sum(d.nt) FROM doctok d CROSS JOIN nn
                     WHERE d.doc_id <= (nn.dmax + 1) * c.c // 10 - 1)
                    AS BIGINT) AS n_tokens,
               CAST((SELECT count(*) FROM firstseen f CROSS JOIN nn
                     WHERE f.fd <= (nn.dmax + 1) * c.c // 10 - 1)
                    AS BIGINT) AS vocab
        FROM cuts c
    ),
    logs AS (
        SELECT c, n_tokens, vocab,
               CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1e9) AS BIGINT)
                   AS x9,
               CAST(round(ln(CAST(vocab AS DOUBLE)) * 1e9) AS BIGINT)
                   AS y9,
               CAST(round(ln(CAST(n_tokens AS DOUBLE))
                          * ln(CAST(vocab AS DOUBLE)) * 1e9) AS BIGINT)
                   AS xy9,
               CAST(round(ln(CAST(n_tokens AS DOUBLE))
                          * ln(CAST(n_tokens AS DOUBLE)) * 1e9) AS BIGINT)
                   AS xx9
        FROM pts WHERE n_tokens > 0 AND vocab > 0
    ),
    fit AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(x9) AS BIGINT) AS sx, CAST(sum(y9) AS BIGINT) AS sy,
               CAST(sum(xy9) AS BIGINT) AS sxy,
               CAST(sum(xx9) AS BIGINT) AS sxx
        FROM logs
    )
    SELECT l.c AS decile, l.n_tokens, l.vocab,
           round((f.k * (f.sxy / 1e9) - (f.sx / 1e9) * (f.sy / 1e9))
                 / (f.k * (f.sxx / 1e9) - (f.sx / 1e9) * (f.sx / 1e9)),
                 6) + 0 AS heaps_beta,
           round(exp((f.sy / 1e9) / f.k
                     - ((f.k * (f.sxy / 1e9) - (f.sx / 1e9) * (f.sy / 1e9))
                        / (f.k * (f.sxx / 1e9) - (f.sx / 1e9) * (f.sx / 1e9)))
                       * ((f.sx / 1e9) / f.k)), 6) + 0 AS heaps_k
    FROM logs l CROSS JOIN fit f ORDER BY decile
    """,
)
def t_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit V(n) = K·n^β — the GROWTH law
    beside t_zipf_fit's frequency law, and the number that sizes
    tokenizer vocabularies and dedup hash tables at 100 TB (β≈0.5
    means 100× more tokens ⇒ ~10× more vocabulary — sublinear, which
    is why vocab structures survive corpus scale-ups that row
    structures don't).  The cumulative-vocab curve needs NO
    re-scanning per checkpoint: each word contributes at exactly its
    FIRST document (one min() per word), so vocab at a cutoff is a
    count over the word-level firstseen table, and token counts are
    prefix sums of per-doc counts — ten checkpoints from two
    aggregates.  β and K come from the 3-point… 10-point log-log OLS
    with every ln term snapped to 1e-9 BIGINT pre-sum (the
    a_hurst_exponent fit discipline).

    Output keeps the raw curve (decile, tokens, vocab) beside the
    fitted constants so the fit quality is eyeballable.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("w"),
        )
        .where(F.col("w") != "")
    )
    firstseen = tok.groupBy("w").agg(
        F.min("doc_id").cast("long").alias("fd")
    )
    doctok = tok.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("nt")
    )
    nn = doctok.agg(F.max("doc_id").cast("long").alias("dmax"))
    cuts = spark.range(1, 11).select(F.col("id").cast("long").alias("c"))
    grid = cuts.crossJoin(F.broadcast(nn)).select(
        "c",
        (F.floor((F.col("dmax") + 1) * F.col("c") / 10) - 1).alias(
            "cutoff"
        ),
    )
    toks_at = (
        grid.join(doctok, doctok.doc_id <= grid.cutoff)
        .groupBy("c")
        .agg(F.sum("nt").cast("long").alias("n_tokens"))
    )
    vocab_at = (
        grid.join(firstseen, firstseen.fd <= grid.cutoff)
        .groupBy("c")
        .agg(F.count("*").cast("long").alias("vocab"))
    )
    pts = toks_at.join(vocab_at, "c").where(
        (F.col("n_tokens") > 0) & (F.col("vocab") > 0)
    )
    lx = F.log(F.col("n_tokens").cast("double"))
    ly = F.log(F.col("vocab").cast("double"))
    logs = pts.select(
        "c",
        "n_tokens",
        "vocab",
        F.round(lx * 1e9).cast("long").alias("x9"),
        F.round(ly * 1e9).cast("long").alias("y9"),
        F.round(lx * ly * 1e9).cast("long").alias("xy9"),
        F.round(lx * lx * 1e9).cast("long").alias("xx9"),
    )
    fit = logs.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("x9").cast("long").alias("sx"),
        F.sum("y9").cast("long").alias("sy"),
        F.sum("xy9").cast("long").alias("sxy"),
        F.sum("xx9").cast("long").alias("sxx"),
    )
    k = F.col("k")
    sx, sy, sxy, sxx = (
        F.col("sx"),
        F.col("sy"),
        F.col("sxy"),
        F.col("sxx"),
    )
    beta = (k * (sxy / 1e9) - (sx / 1e9) * (sy / 1e9)) / (
        k * (sxx / 1e9) - (sx / 1e9) * (sx / 1e9)
    )
    kconst = F.exp((sy / 1e9) / k - beta * ((sx / 1e9) / k))
    return (
        logs.crossJoin(F.broadcast(fit))
        .select(
            F.col("c").alias("decile"),
            "n_tokens",
            "vocab",
            f6(beta).alias("heaps_beta"),
            f6(kconst).alias("heaps_k"),
        )
        .orderBy("decile")
    )


@register(
    "t_feature_hashing",
    r"""
    WITH tok AS (
        SELECT doc_id, source, w
        FROM (SELECT doc_id, source,
                     unnest(string_split_regex(lower(text), '\s+')) AS w
              FROM documents)
        WHERE w <> ''
    ),
    hashed AS (
        SELECT doc_id, source, w,
               CAST(list_sum(list_transform(range(1, 9),
                   j -> (strpos('0123456789abcdef',
                                substring(md5(w), j, 1)) - 1)
                        * CAST(16 AS BIGINT) ** (8 - j))) % 64
                    AS BIGINT) AS bucket
        FROM tok
    ),
    per_doc AS (
        SELECT doc_id, source,
               CAST(count(DISTINCT w) AS BIGINT) AS n_words,
               CAST(count(DISTINCT bucket) AS BIGINT) AS nnz
        FROM hashed GROUP BY 1, 2
    ),
    corpus AS (
        SELECT source,
               CAST(count(DISTINCT w) AS BIGINT) AS vocab,
               CAST(count(DISTINCT bucket) AS BIGINT) AS used_buckets
        FROM hashed GROUP BY source
    )
    SELECT p.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(p.nnz) * 1.0 / count(*), 6) + 0 AS avg_nnz,
           round(sum(p.n_words - p.nnz) * 1.0 / sum(p.n_words), 6) + 0
               AS in_doc_collision_share,
           CAST(max(c.vocab) AS BIGINT) AS vocab,
           CAST(max(c.used_buckets) AS BIGINT) AS used_buckets
    FROM per_doc p JOIN corpus c ON c.source = p.source
    GROUP BY p.source ORDER BY p.source
    """,
)
def t_feature_hashing(spark, sf_dir):
    """Feature hashing (the 'hashing trick', Weinberger et al 2009 —
    public) census — the featurizer that makes text→vector work at
    100 TB with NO vocabulary object: words hash straight into a
    fixed 64-bucket index (md5-derived, engine-identical), so the
    feature space is constant-size, shardable, and needs no
    build/broadcast/version of a vocab dictionary.  The price is
    collisions, and this key MEASURES it per source: per-doc nnz vs
    distinct words (the in-document collision share that blurs dot
    products) and corpus vocab vs used buckets — exactly the numbers
    that size the bucket count (production rule: buckets ≳ vocab, by
    Heaps' law sublinear in corpus — see t_heaps_law).

    The hash is the repo's md5-nibble idiom (a_ab_srm_check's
    _H32 construction applied to words); counts are exact; the two
    shares are single divisions.  One token pass, word/bucket-keyed
    distinct aggregates — all map-side combinable.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("w"),
        )
        .where(F.col("w") != "")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("long")
        % 64
    )
    hashed = tok.select("doc_id", "source", "w", bucket.alias("bucket"))
    per_doc = hashed.groupBy("doc_id", "source").agg(
        F.countDistinct("w").cast("long").alias("n_words"),
        F.countDistinct("bucket").cast("long").alias("nnz"),
    )
    corpus = hashed.groupBy("source").agg(
        F.countDistinct("w").cast("long").alias("vocab"),
        F.countDistinct("bucket").cast("long").alias("used_buckets"),
    )
    return (
        per_doc.join(F.broadcast(corpus), "source")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            f6(F.sum("nnz") * 1.0 / F.count("*")).alias("avg_nnz"),
            f6(
                F.sum(F.col("n_words") - F.col("nnz"))
                * 1.0
                / F.sum("n_words")
            ).alias("in_doc_collision_share"),
            F.max("vocab").cast("long").alias("vocab"),
            F.max("used_buckets").cast("long").alias("used_buckets"),
        )
        .orderBy("source")
    )


@register(
    "t_labeler_kappa",
    r"""
    WITH lab AS (
        SELECT doc_id,
               CASE WHEN length(regexp_extract_all(text, '\S+'))
                         BETWEEN 30 AND 70
                    THEN 1 ELSE 0 END AS la,
               CASE WHEN n_chars * 1.0
                         / greatest(length(regexp_extract_all(text,
                                                              '\S+')), 1)
                         BETWEEN 4.0 AND 9.0
                    THEN 1 ELSE 0 END AS lb
        FROM documents
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN la = 1 AND lb = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(sum(CASE WHEN la = 1 AND lb = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(sum(CASE WHEN la = 0 AND lb = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(sum(CASE WHEN la = 0 AND lb = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
        FROM lab
    )
    SELECT n AS n_docs, a AS both_pass, b AS only_length,
           c AS only_wordlen, d AS both_fail,
           round(CAST(a + d AS DOUBLE) / n, 6) + 0 AS observed_agree,
           round((CAST(a + b AS DOUBLE) * (a + c)
                  + CAST(c + d AS DOUBLE) * (b + d))
                 / (CAST(n AS DOUBLE) * n), 6) + 0 AS expected_agree,
           round((CAST(a + d AS DOUBLE) / n
                  - (CAST(a + b AS DOUBLE) * (a + c)
                     + CAST(c + d AS DOUBLE) * (b + d))
                    / (CAST(n AS DOUBLE) * n))
                 / (1.0 - (CAST(a + b AS DOUBLE) * (a + c)
                           + CAST(c + d AS DOUBLE) * (b + d))
                          / (CAST(n AS DOUBLE) * n)), 6) + 0 AS kappa
    FROM c
    """,
)
def t_labeler_kappa(spark, sf_dir):
    """Cohen's kappa between two quality labelers — AGREEMENT
    statistics, the eval-ops family the toolkit lacked: when two
    heuristic filters (here a word-count gate and a mean-word-length
    gate — stand-ins for any pair of quality classifiers or
    annotators) agree 85% of the time, how much of that is CHANCE?
    κ = (p_o − p_e)/(1 − p_e) discounts the agreement two coin-flip
    labelers with the same base rates would produce — the correction
    every labeling pipeline reports before trusting 'our filters
    agree' (raw agreement on imbalanced labels is nearly
    meaningless).  The full 2×2 prints beside κ so disagreement
    DIRECTION (which labeler is stricter) is visible.

    One scan computes both labels and the exact 2×2 BIGINTs; κ is a
    single float association.  At 100 TB swap the CASE gates for any
    scored column pair at identical cost.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.regexp_count(F.col("text"), F.lit(r"\S+"))
    la = F.when((words >= 30) & (words <= 70), 1).otherwise(0)
    awl = F.col("n_chars") * 1.0 / F.greatest(words, F.lit(1))
    lb = F.when((awl >= 4.0) & (awl <= 9.0), 1).otherwise(0)
    lab = docs.select(la.alias("la"), lb.alias("lb"))
    c = lab.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when((F.col("la") == 1) & (F.col("lb") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when((F.col("la") == 1) & (F.col("lb") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("la") == 0) & (F.col("lb") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("la") == 0) & (F.col("lb") == 0), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    n = F.col("n")
    a, b, cc, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    po = (a + d).cast("double") / n
    pe = (
        (a + b).cast("double") * (a + cc)
        + (cc + d).cast("double") * (b + d)
    ) / (n.cast("double") * n)
    return c.select(
        n.alias("n_docs"),
        a.alias("both_pass"),
        b.alias("only_length"),
        cc.alias("only_wordlen"),
        d.alias("both_fail"),
        f6(po).alias("observed_agree"),
        f6(pe).alias("expected_agree"),
        f6((po - pe) / (1.0 - pe)).alias("kappa"),
    )


@register(
    "t_cdc_chunking",
    r"""
    WITH ptok AS (
        SELECT doc_id, u.s.w AS word, u.s.p AS pos
        FROM (SELECT doc_id,
                     list_transform(string_split_regex(lower(text), '\s+'),
                                    (x, i) -> {'w': x, 'p': i}) AS lst
              FROM documents),
             unnest(lst) u(s)
    ),
    cuts AS (
        SELECT doc_id, word, pos,
               CASE WHEN pos >= 4 AND substr(md5(
                        lag(word, 3) OVER win || '|' || lag(word, 2) OVER win
                        || '|' || lag(word, 1) OVER win || '|' || word),
                    1, 1) = '0'
                    THEN 1 ELSE 0 END AS cut
        FROM ptok
        WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ),
    chunked AS (
        SELECT doc_id, word, pos,
               coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS chunk_id
        FROM cuts
    ),
    chunks AS (
        SELECT doc_id, chunk_id,
               md5(string_agg(word, ' ' ORDER BY pos)) AS digest,
               CAST(count(*) AS BIGINT) AS n_tok,
               CAST(length(string_agg(word, ' ' ORDER BY pos)) AS BIGINT)
                   AS n_char
        FROM chunked GROUP BY doc_id, chunk_id
    )
    SELECT digest,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           max(n_tok) AS chunk_tokens,
           CAST((count(*) - 1) * max(n_char) AS BIGINT) AS saved_chars
    FROM chunks
    GROUP BY digest
    HAVING count(*) >= 2
    ORDER BY n_copies DESC, digest
    LIMIT 10
    """,
)
def t_cdc_chunking(spark, sf_dir):
    """Content-defined chunking + chunk-level dedup census — the
    storage-dedup primitive (LBFS, Muthitacharoen et al. SOSP'01;
    FastCDC, Xia et al. ATC'16) applied to a training corpus: split each
    document's token stream at CONTENT-determined boundaries (a rolling
    4-token window hashes into the cut range with p = 1/16, so chunks
    average ~16 tokens and, crucially, boundaries RESYNCHRONIZE after an
    edit — an insertion shifts at most the chunk it lands in, unlike
    fixed-stride tiles where one inserted token misaligns every later
    tile), then count identical chunks across the corpus. Near-duplicate
    documents that differ by local mutations share most of their chunks,
    so the census surfaces both the dedup ratio and the heaviest shared
    fragments (top-10 by copy count, with docs reached and chars
    deduplicable).

    Engine-exactness: the cut decision is a pure string function —
    first hex nibble of md5('w3|w2|w1|w0') — identical on both engines;
    chunk ids are cumulative cut counts over the doc-partitioned pos
    order; chunk text reassembles with an ORDER BY pos aggregate. No
    floats anywhere in the key.

    Scale: tokenize + the cut window + chunk assembly all partition by
    doc_id (ONE exchange serves the window and the groupBy — subset
    clustering satisfies the aggregate); after assembly only 32-char
    digests shuffle for the census (text never leaves its doc
    partition), and the top-10 is a TakeOrderedAndProject. Work per doc
    is linear in tokens; the census is a digest-keyed partial agg —
    the same shape t_exact_dedup_digest measured linear on the ladder."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = cdc_chunks(docs)
    return (
        chunks.groupBy("digest")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.max("n_tok").alias("chunk_tokens"),
            ((F.count("*") - 1) * F.max("n_char")).cast("long").alias("saved_chars"),
        )
        .where(F.col("n_copies") >= 2)
        .orderBy(F.col("n_copies").desc(), "digest")
        .limit(10)
    )


def cdc_chunks(docs):
    """Content-defined chunks of any (doc_id, text) frame: one row per
    chunk with (doc_id, chunk_id, digest, n_tok, n_char). Split out of
    t_cdc_chunking so the hypothesis property layer can drive the ENGINE
    chunker (not a python re-implementation) on generated inputs."""
    # posexplode, not row_number-over-monotonic-id: positions must be the
    # token's index IN ITS OWN text (stable across retries/partitionings).
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos0", "word"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    win = Window.partitionBy("doc_id").orderBy("pos")
    window_str = F.concat_ws(
        "|",
        F.lag("word", 3).over(win),
        F.lag("word", 2).over(win),
        F.lag("word", 1).over(win),
        F.col("word"),
    )
    cut = F.when(
        (F.col("pos") >= 4)
        & (F.substring(F.md5(F.encode(window_str, "UTF-8")), 1, 1) == "0"),
        F.lit(1),
    ).otherwise(F.lit(0))
    cuts = tok.select("doc_id", "word", "pos", cut.alias("cut"))
    chunk_id = F.coalesce(
        F.sum("cut").over(win.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    chunked = cuts.select("doc_id", "word", "pos", chunk_id.alias("chunk_id"))
    ordered_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "word"))),
            lambda s: s.word,
        ),
        " ",
    )
    return chunked.groupBy("doc_id", "chunk_id").agg(
        F.md5(F.encode(ordered_text, "UTF-8")).alias("digest"),
        F.count("*").cast("long").alias("n_tok"),
        F.length(ordered_text).cast("long").alias("n_char"),
    )


def _dup_ngram_wins_sql(lengths=(8, 16, 32)) -> str:
    return "\n        UNION ALL ".join(
        f"SELECT doc_id, {L} AS wlen,"
        f" unnest(list_transform(range({L}, len(t)+1),"
        f" i -> md5(array_to_string(t[i-{L - 1}:i], ' ')))) AS digest"
        f" FROM toks WHERE len(t) >= {L}"
        for L in lengths
    )


@register(
    "t_longest_dup_ngram",
    rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
        FROM documents
    ),
    wins AS (
        {_dup_ngram_wins_sql()}
    ),
    dups AS (
        SELECT wlen, digest FROM wins
        GROUP BY wlen, digest HAVING count(*) >= 2
    ),
    perdoc AS (
        SELECT w.doc_id, max(w.wlen) AS max_dup_len
        FROM wins w JOIN dups d ON d.wlen = w.wlen AND d.digest = w.digest
        GROUP BY w.doc_id
    ),
    cls AS (
        SELECT t.doc_id, coalesce(p.max_dup_len, 0) AS max_dup_len
        FROM toks t LEFT JOIN perdoc p ON p.doc_id = t.doc_id
    ),
    tot AS (SELECT count(*) AS n FROM cls)
    SELECT CAST(max_dup_len AS BIGINT) AS max_dup_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(count(*) * 1.0 / tot.n, 6) + 0 AS share
    FROM cls CROSS JOIN tot
    GROUP BY max_dup_len, tot.n
    ORDER BY max_dup_len
    """,
)
def t_longest_dup_ngram(spark, sf_dir):
    """Longest-duplicated-substring census — the per-document signal
    behind exact-substring training-data dedup ("Deduplicating Training
    Data Makes Language Models Better", Lee et al. 2022, public): for
    window lengths L ∈ {8, 16, 32} tokens, digest every length-L sliding
    window, mark digests occurring ≥2 times corpus-wide (self-repetition
    counts — a doc repeating its own boilerplate is the same training
    hazard), and classify each document by the LONGEST duplicated window
    it contains (0 = clean). The output is the 4-row class census with
    corpus shares — the dial an operator reads to pick the dedup cut
    (docs in the 32+ class are removal candidates; the 8 class is mostly
    idiom-frequency noise).

    Scale: window digests are built ARRAY-SIDE per document (one
    transform over the token array per L — no token explode, the
    t_chunk_docs idiom), so the corpus scan emits (doc_id, wlen, digest)
    rows directly; everything after is digest-keyed partial aggregation
    + one left-semi join back — the t_exact_dedup_digest shape measured
    linear on the ladder, at 3x token volume. Text never shuffles; the
    3-length union is 3 scan passes of the same cached-by-OS parquet.
    No floats until the final share division."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("t")
    )
    sized = docs.select("doc_id", "t", F.size("t").alias("n"))
    wins = None
    for L in (8, 16, 32):
        wd = sized.where(F.col("n") >= L).select(
            "doc_id",
            F.lit(L).cast("long").alias("wlen"),
            F.explode(
                F.expr(
                    f"transform(sequence({L}, n), i -> "
                    f"md5(encode(array_join(slice(t, i - {L - 1}, {L}), ' '),"
                    f" 'UTF-8')))"
                )
            ).alias("digest"),
        )
        wins = wd if wins is None else wins.unionByName(wd)
    # One explicit (wlen, digest) repartition BEFORE the cache: the
    # census groupBy and the wins⋈dups semi join below both cluster on
    # (wlen, digest), so caching the already-partitioned frame makes BOTH
    # exchange-free (dups inherits the partitioning through its groupBy).
    # Without it the cached wins was exchanged twice, and the partial
    # agg's combine density collapsed as per-task digest cardinality grew
    # (round-11 SCALECHECK: shuffle 62.6x for 30x rows); with it the only
    # window-sized shuffle is this single repartition, by construction
    # proportional to input.
    # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
    # cleared per run): median 4.43 -> 4.87 s without it, IQR 0.26 s.
    wins = wins.repartition("wlen", "digest").cache()
    dups = (
        wins.groupBy("wlen", "digest")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= 2)
        .select("wlen", "digest")
    )
    perdoc = (
        wins.join(dups, ["wlen", "digest"], "left_semi")
        .groupBy("doc_id")
        .agg(F.max("wlen").alias("max_dup_len"))
    )
    cls = (
        docs.select("doc_id")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("max_dup_len"), F.lit(0)).alias("max_dup_len")
        )
    )
    tot = cls.agg(F.count("*").alias("n"))
    return (
        cls.groupBy("max_dup_len")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("max_dup_len").cast("long").alias("max_dup_len"),
            "n_docs",
            f6(F.col("n_docs") * 1.0 / F.col("n")).alias("share"),
        )
        .orderBy("max_dup_len")
    )


@register(
    "t_l_diversity",
    """
    WITH qi AS (
        SELECT lang, n_chars // 500 AS len_bucket, source,
               count(*) AS n
        FROM documents GROUP BY 1, 2, 3
    ),
    gt AS (
        SELECT lang, len_bucket, sum(n) AS tot FROM qi GROUP BY 1, 2
    ),
    grp AS (
        SELECT q.lang, q.len_bucket,
               count(*) AS l_distinct,
               max(g.tot) AS n_rows,
               round(exp(-sum((q.n * 1.0 / g.tot)
                              * ln(q.n * 1.0 / g.tot))), 6) + 0
                   AS entropy_l
        FROM qi q JOIN gt g ON q.lang = g.lang
                           AND q.len_bucket = g.len_bucket
        GROUP BY q.lang, q.len_bucket
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(min(l_distinct) AS BIGINT) AS l_diversity,
           CAST(sum(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_groups_below_3,
           CAST(sum(CASE WHEN l_distinct < 3 THEN n_rows ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk,
           round(min(entropy_l), 6) + 0 AS min_entropy_l
    FROM grp
    """,
)
def t_l_diversity(spark, sf_dir):
    """l-diversity census — t_k_anonymity's companion release audit
    (Machanavajjhala 2007, public): a group can be large (k-anonymous)
    yet still leak if everyone in it shares the same SENSITIVE value.
    Quasi-identifiers here are (lang, length bucket); the sensitive
    attribute is the document's source feed (which confidential corpus
    a row came from is exactly what an attacker wants pinned). Reports
    the dataset's l (min distinct sensitive values over any group),
    the groups/rows failing l=3, and the strictest entropy-l (exp of
    the group's sensitive-value entropy — the variant that catches
    99%-one-value groups that plain distinct-count l misses).

    Scale: one (QI, sensitive) grain aggregation then a QI-grain
    rollup — two map-side-combinable shuffles on bounded axes; the
    entropy needs each value's share of its group, a group-total join
    back onto the bounded (QI, sensitive) frame. Floats only inside the
    entropy (6dp-snapped); every count is BIGINT.
    """
    docs = load_table(spark, sf_dir, "documents")
    qi = docs.groupBy(
        "lang",
        F.expr("n_chars div 500").alias("len_bucket"),
        "source",
    ).agg(F.count("*").alias("n"))
    gt = qi.groupBy("lang", "len_bucket").agg(F.sum("n").alias("tot"))
    qent = qi.join(gt, ["lang", "len_bucket"]).withColumn(
        "sh", F.col("n") * 1.0 / F.col("tot")
    )
    grp = qent.groupBy("lang", "len_bucket").agg(
        F.count("*").alias("l_distinct"),
        F.max("tot").alias("n_rows"),
        (F.round(F.exp(-F.sum(F.col("sh") * F.log("sh"))), 6) + F.lit(0.0))
        .alias("entropy_l"),
    )
    return grp.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.min("l_distinct").cast("long").alias("l_diversity"),
        F.sum(F.when(F.col("l_distinct") < 3, 1).otherwise(0))
        .cast("long").alias("n_groups_below_3"),
        F.sum(F.when(F.col("l_distinct") < 3, F.col("n_rows")).otherwise(0))
        .cast("long").alias("n_rows_at_risk"),
        (F.round(F.min("entropy_l"), 6) + F.lit(0.0)).alias("min_entropy_l"),
    )


@register(
    "t_rake_keywords",
    r"""
    WITH w AS (
        SELECT doc_id, i AS pos, wd[i] AS word
        FROM (SELECT doc_id, wd, unnest(range(1, len(wd) + 1)) AS i
              FROM (SELECT doc_id,
                           string_split_regex(lower(text), '\s+') AS wd
                    FROM documents))
    ),
    s AS (
        SELECT doc_id, pos, word,
               word IN ('a','the','and','of','to','in','is','on','for','as')
                   AS stop,
               sum(CASE WHEN word IN ('a','the','and','of','to','in','is',
                                      'on','for','as')
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM w
    ),
    kept AS (
        SELECT doc_id, grp, pos, word,
               count(*) OVER (PARTITION BY doc_id, grp) AS plen
        FROM s WHERE NOT stop
    ),
    phr AS (
        SELECT doc_id, grp, string_agg(word, ' ' ORDER BY pos) AS phrase
        FROM kept WHERE plen <= 6 GROUP BY doc_id, grp
    ),
    wstat AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(plen) AS BIGINT) AS deg
        FROM kept WHERE plen <= 6 GROUP BY word
    ),
    phr2 AS (
        SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
        FROM phr GROUP BY phrase
    ),
    pw AS (
        SELECT p.phrase, p.n_occurrences, pwd.word
        FROM (SELECT phrase, n_occurrences,
                     string_split(phrase, ' ') AS wds
              FROM phr2) p, unnest(p.wds) AS pwd(word)
    )
    SELECT pw.phrase,
           CAST(count(*) AS BIGINT) AS n_words,
           pw.n_occurrences,
           round(sum(wstat.deg * 1.0 / wstat.freq), 6) + 0 AS rake_score
    FROM pw JOIN wstat ON wstat.word = pw.word
    GROUP BY pw.phrase, pw.n_occurrences
    ORDER BY rake_score DESC, phrase
    LIMIT 15
    """,
)
def t_rake_keywords(spark, sf_dir, stopwords=None):
    """RAKE keyword extraction (Rose et al. 2010) — the zero-model
    keyphrase baseline every corpus triage starts with: candidate
    phrases are maximal stopword-free word runs (capped at 6 words,
    the standard implementation limit), each word scores
    degree/frequency where degree = sum of the lengths of the phrases
    containing it (words keeping long-phrase company score high,
    ubiquitous solo words score low), and a phrase scores the sum of
    its member words' scores.  Top-15 by score with the phrase text
    as deterministic tiebreak.

    Scale: two narrow shuffles — the per-document island window
    (doc_id-partitioned, the sessionize pattern on token streams) and
    one word-stats groupBy whose cardinality is the VOCABULARY, not
    the corpus; phrase scoring re-splits the distinct phrase strings
    (corpus-independent grain) and joins the vocabulary-sized stats
    broadcast-style.  No N^2 anywhere; the whole plan is linear in
    tokens.
    """
    docs = load_table(spark, sf_dir, "documents")
    # stopwords parameterized for the scale ladder (its zipf vocabulary
    # contains none of the registered English list, which would leave
    # zero sub-cap runs and blind the ranked path — the t_bm25_score
    # ladder lesson); the registered contract is the fixed list.
    stops = list(stopwords) if stopwords is not None else [
        "a", "the", "and", "of", "to", "in", "is", "on", "for", "as"]
    w = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos", "word"),
    )
    s = w.select(
        "doc_id",
        "pos",
        "word",
        F.col("word").isin(stops).alias("stop"),
        F.sum(F.when(F.col("word").isin(stops), 1).otherwise(0))
        .over(Window.partitionBy("doc_id").orderBy("pos"))
        .alias("grp"),
    )
    kept = (
        s.where(~F.col("stop"))
        .withColumn(
            "plen",
            F.count("*").over(Window.partitionBy("doc_id", "grp")),
        )
        .where(F.col("plen") <= 6)
    )
    phr = kept.groupBy("doc_id", "grp").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "word"))
                ),
                lambda x: x["word"],
            ),
        ).alias("phrase")
    )
    wstat = kept.groupBy("word").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    phr2 = phr.groupBy("phrase").agg(
        F.count("*").cast("long").alias("n_occurrences")
    )
    pw = phr2.select(
        "phrase",
        "n_occurrences",
        F.explode(F.split(F.col("phrase"), " ")).alias("word"),
    )
    return (
        pw.join(F.broadcast(wstat), "word")
        .groupBy("phrase", "n_occurrences")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            f6(F.sum(F.col("deg") * 1.0 / F.col("freq"))).alias("rake_score"),
        )
        .select("phrase", "n_words", "n_occurrences", "rake_score")
        .orderBy(F.col("rake_score").desc(), "phrase")
        .limit(15)
    )


@register(
    "t_watermark_detect",
    r"""
    WITH tok AS (
        SELECT doc_id, i AS pos, wd[i] AS cur, wd[i - 1] AS prev
        FROM (SELECT doc_id, wd, unnest(range(2, len(wd) + 1)) AS i
              FROM (SELECT doc_id,
                           string_split_regex(lower(text), '\s+') AS wd
                    FROM documents))
    ),
    scored AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(CASE WHEN substring(md5(prev || '|' || cur), 1, 1)
                             BETWEEN '0' AND '7'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_green
        FROM tok GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, n_green,
           round((2.0 * n_green - n_bigrams) / sqrt(n_bigrams), 6) + 0
               AS z_score,
           CAST(CASE WHEN (2.0 * n_green - n_bigrams) / sqrt(n_bigrams) > 4
                     THEN 1 ELSE 0 END AS BIGINT) AS flagged
    FROM scored
    WHERE n_bigrams >= 16
    ORDER BY doc_id
    """,
)
def t_watermark_detect(spark, sf_dir):
    """LLM watermark detection (Kirchenbauer et al. 2023) — the
    statistical test a training-data pipeline runs to keep
    watermarked synthetic text OUT of the corpus: a greenlist
    watermark makes each generated token prefer the half of the
    vocabulary selected by a hash of its predecessor, so detection
    scores each document's fraction of 'green' bigrams (green iff
    md5(prev|cur) starts 0-7 — an exact 1/2-probability partition on
    both engines) and converts it to the one-proportion z-score
    (2g − n)/sqrt(n).  On natural text z ~ N(0,1) — this corpus IS
    the null distribution, which is the calibration half of deploying
    the detector; the z > 4 flag (false-positive rate ~3e-5) is the
    production threshold for quarantining documents.  Documents with
    fewer than 16 bigrams are skipped (the test has no power there —
    the same length floor the paper uses).

    Scale: one tokenize-and-shift pass (array windows, map-side) and
    one per-doc count aggregation — strictly linear in tokens, no
    joins; the z arithmetic is exact integers until one sqrt.
    """
    docs = load_table(spark, sf_dir, "documents")
    # bigram pairs built array-side (one transform, no token array
    # duplicated onto every exploded row)
    tok = (
        docs.select(
            "doc_id", F.split(F.lower("text"), r"\s+").alias("wd")
        )
        # single-token docs must be dropped BEFORE the window build:
        # sequence(1, 0) is a DESCENDING [1, 0] in Spark and would
        # fabricate two null-token bigrams per doc (DuckDB's
        # range(2, 2) is empty) — harmless today only because of the
        # 16-bigram power floor, but wrong if the floor ever moves
        .where(F.size("wd") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(wd) - 1),"
                    " i -> struct(wd[i - 1] AS prev, wd[i] AS cur))"
                )
            ).alias("bg"),
        )
    )
    green = F.when(
        F.substring(
            F.md5(F.concat_ws("|", F.col("bg.prev"), F.col("bg.cur"))), 1, 1
        ).between("0", "7"),
        1,
    ).otherwise(0)
    scored = tok.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum(green).cast("long").alias("n_green"),
    )
    z = (2.0 * F.col("n_green") - F.col("n_bigrams")) / F.sqrt(
        F.col("n_bigrams")
    )
    return (
        scored.where(F.col("n_bigrams") >= 16)
        .select(
            "doc_id",
            "n_bigrams",
            "n_green",
            f6(z).alias("z_score"),
            F.when(z > 4, 1).otherwise(0).cast("long").alias("flagged"),
        )
        .orderBy("doc_id")
    )


@register(
    "t_rouge_lead_bias",
    r"""
    WITH toks AS (
        SELECT doc_id, i AS pos, wd[i] AS w, len(wd) AS n
        FROM (SELECT doc_id, wd, unnest(range(1, len(wd) + 1)) AS i
              FROM (SELECT doc_id,
                           string_split_regex(lower(text), '\s+') AS wd
                    FROM documents))
    ),
    eligible AS (SELECT DISTINCT doc_id FROM toks WHERE n >= 40),
    cand AS (
        SELECT t.doc_id, t.w, CAST(count(*) AS BIGINT) AS c
        FROM toks t JOIN eligible e ON e.doc_id = t.doc_id
        WHERE t.pos <= 20 GROUP BY 1, 2
    ),
    ref AS (
        SELECT t.doc_id, t.w, CAST(count(*) AS BIGINT) AS c
        FROM toks t JOIN eligible e ON e.doc_id = t.doc_id
        WHERE t.pos > 20 GROUP BY 1, 2
    ),
    sizes AS (
        SELECT c.doc_id,
               CAST(sum(c.c) AS BIGINT) AS n_cand,
               (SELECT CAST(sum(r2.c) AS BIGINT) FROM ref r2
                WHERE r2.doc_id = c.doc_id) AS n_ref
        FROM cand c GROUP BY c.doc_id
    ),
    ov AS (
        SELECT cand.doc_id,
               CAST(sum(least(cand.c, ref.c)) AS BIGINT) AS ov1
        FROM cand JOIN ref
          ON ref.doc_id = cand.doc_id AND ref.w = cand.w
        GROUP BY cand.doc_id
    )
    SELECT s.doc_id, s.n_cand, s.n_ref,
           coalesce(ov.ov1, 0) AS overlap1,
           round(coalesce(ov.ov1, 0) * 1.0 / s.n_cand, 6) + 0 AS p1,
           round(coalesce(ov.ov1, 0) * 1.0 / s.n_ref, 6) + 0 AS r1,
           round(CASE WHEN coalesce(ov.ov1, 0) = 0 THEN 0.0
                      ELSE 2.0 * coalesce(ov.ov1, 0)
                           / (s.n_cand + s.n_ref) END, 6) + 0 AS f1
    FROM sizes s LEFT JOIN ov ON ov.doc_id = s.doc_id
    ORDER BY s.doc_id
    """,
)
def t_rouge_lead_bias(spark, sf_dir):
    """ROUGE-1 lead-bias audit — the summarization-eval primitive run
    as a corpus diagnostic: score each document's LEAD (first 20
    tokens) against the rest of the document with multiset-overlap
    ROUGE-1 (overlap = sum_w min(count_lead, count_rest); P, R, and
    the F1 identity 2*ov/(n_lead+n_rest)).  High corpus-mean F here
    means lead sections already paraphrase their documents — the
    lead-bias that makes extractive baselines look deceptively strong
    and that summarization training sets must measure before trusting
    any learned-model win.  Docs under 40 tokens are skipped (no
    reference substance).

    Scale: two word-count aggregations (doc x word grain, map-side
    combinable) and one co-keyed join on (doc_id, word) — the
    same-document join co-partitions for free; nothing is quadratic
    and the multiset min makes every count exact BIGINT.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos0", "w"),
        F.size(F.split(F.lower("text"), r"\s+")).alias("n"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w", "n")
    eligible = toks.where(F.col("n") >= 40).select("doc_id").distinct()
    base = toks.join(eligible, "doc_id")
    cand = (
        base.where(F.col("pos") <= 20)
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast("long").alias("c_cand"))
    )
    ref = (
        base.where(F.col("pos") > 20)
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast("long").alias("c_ref"))
    )
    sizes = (
        cand.groupBy("doc_id")
        .agg(F.sum("c_cand").cast("long").alias("n_cand"))
        .join(
            ref.groupBy("doc_id").agg(
                F.sum("c_ref").cast("long").alias("n_ref")
            ),
            "doc_id",
        )
    )
    ov = (
        cand.join(ref, ["doc_id", "w"])
        .groupBy("doc_id")
        .agg(
            F.sum(F.least("c_cand", "c_ref")).cast("long").alias("ov1")
        )
    )
    o = F.coalesce(F.col("ov1"), F.lit(0))
    return (
        sizes.join(ov, "doc_id", "left")
        .select(
            "doc_id",
            "n_cand",
            "n_ref",
            o.alias("overlap1"),
            f6(o * 1.0 / F.col("n_cand")).alias("p1"),
            f6(o * 1.0 / F.col("n_ref")).alias("r1"),
            f6(
                F.when(o == 0, 0.0).otherwise(
                    2.0 * o / (F.col("n_cand") + F.col("n_ref"))
                )
            ).alias("f1"),
        )
        .orderBy("doc_id")
    )


@register(
    "t_mattr_diversity",
    r"""
    WITH d AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS wd
        FROM documents
    ),
    base AS (
        SELECT doc_id, wd, len(wd) AS n FROM d WHERE len(wd) >= 20
    ),
    win AS (
        SELECT doc_id, n,
               len(list_distinct(wd[s + 1 : s + 20])) AS types
        FROM (SELECT doc_id, n, wd, unnest(range(0, n - 19, 10)) AS s
              FROM base)
    )
    SELECT w.doc_id,
           CAST(max(w.n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_windows,
           round(avg(w.types / 20.0), 6) + 0 AS mattr,
           round(max(g.gt) * 1.0 / max(w.n), 6) + 0 AS global_ttr
    FROM win w JOIN (SELECT doc_id, len(list_distinct(wd)) AS gt
                     FROM base) g ON g.doc_id = w.doc_id
    GROUP BY w.doc_id
    ORDER BY w.doc_id
    """,
)
def t_mattr_diversity(spark, sf_dir):
    """MATTR — moving-average type-token ratio (Covington-McFall
    2010), the lexical-diversity measure that fixes raw TTR's fatal
    length bias: TTR over a whole document falls mechanically as the
    document grows (types saturate, tokens don't), so corpora ranked
    by global TTR just rank by length.  MATTR averages the TTR of
    fixed 20-token windows (stride 10), making scores comparable
    across lengths — the global_ttr column is printed alongside so
    the bias is visible in-row (global <= mattr + epsilon for long
    docs, and the GAP grows with n_tokens).  Quality filters use this
    where t_repetition_filter uses n-gram repetition: low MATTR flags
    template/boilerplate text whose vocabulary loops.

    Scale: window starts are a map-side sequence explode and each
    window's type count is array_distinct on a 20-element slice — no
    shuffle until the per-doc average; strictly linear in tokens with
    a constant ~2x window overlap factor.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("wd")
    ).withColumn("n", F.size("wd")).where(F.col("n") >= 20)
    win = base.select(
        "doc_id",
        "n",
        F.explode(F.expr("sequence(0, n - 20, 10)")).alias("s"),
        "wd",
    ).select(
        "doc_id",
        "n",
        F.size(
            F.array_distinct(F.slice(F.col("wd"), F.col("s") + 1, 20))
        ).alias("types"),
    )
    gt = base.select(
        "doc_id", F.size(F.array_distinct("wd")).alias("gt")
    )
    return (
        win.join(gt, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_windows"),
            f6(F.avg(F.col("types") / 20.0)).alias("mattr"),
            f6(F.max("gt") * 1.0 / F.max("n")).alias("global_ttr"),
        )
        .orderBy("doc_id")
    )


@register(
    "t_yule_k",
    r"""
    WITH freq AS (
        SELECT lang, word, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT lang,
                     unnest(string_split_regex(lower(text), '\s+')) AS word
              FROM documents)
        GROUP BY lang, word
    )
    SELECT lang,
           CAST(sum(f) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax,
           round(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1.0 / count(*),
                 6) + 0 AS hapax_share,
           round(1e4 * (CAST(sum(f * f) AS DOUBLE) - sum(f))
                 / (CAST(sum(f) AS DOUBLE) * sum(f)), 4) + 0 AS yule_k,
           round(CAST(sum(f * (f - 1)) AS DOUBLE)
                 / (CAST(sum(f) AS DOUBLE) * (sum(f) - 1)), 6) + 0
               AS simpson_d
    FROM freq GROUP BY lang ORDER BY lang
    """,
)
def t_yule_k(spark, sf_dir):
    """Vocabulary-richness triple per language: Yule's characteristic
    K = 10⁴·(Σf² − N)/N² (repeat-rate constant, length-invariant by
    construction — Yule 1944), Simpson's lexical D = Σf(f−1)/(N(N−1))
    (the probability two random tokens are the same type), and the
    hapax-legomenon share V₁/V (the Heaps'-law growth frontier). The
    three disagree exactly when a corpus is template-heavy: K and D
    spike on repeated boilerplate while hapax share collapses — the
    quality triage signal t_mattr_diversity (windowed TTR) cannot see
    because it normalizes repeats away within 20-token windows.

    Scale: ONE vocabulary-cardinality (lang, word) groupBy — the same
    frame t_zipf_fit ranks — then a per-lang aggregate of three power
    sums; every count BIGINT-exact until the final ratios. No windows,
    no joins; at 100 TB this is the cheapest member of the lexical
    family (t_zipf_fit pays a vocab sort on top; this never sorts).
    """
    freq = (
        load_table(spark, sf_dir, "documents")
        .select(
            "lang",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("word"),
        )
        .groupBy("lang", "word")
        .agg(F.count("*").cast("long").alias("f"))
    )
    n = F.sum("f").cast("double")
    return (
        freq.groupBy("lang")
        .agg(
            F.sum("f").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("vocab"),
            F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
            .cast("long")
            .alias("hapax"),
            f6(
                F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
                * 1.0
                / F.count("*")
            ).alias("hapax_share"),
            (
                F.round(
                    1e4
                    * (F.sum(F.col("f") * F.col("f")).cast("double") - F.sum("f"))
                    / (n * F.sum("f")),
                    4,
                )
                + 0
            ).alias("yule_k"),
            # a single-token language makes N(N−1) = 0: Simpson's D is
            # undefined there and must be SQL NULL like the DuckDB
            # oracle's div-by-zero, not an ANSI crash (round-15
            # fixture-sensitivity sweep; hash-neutral on real corpora).
            f6(
                F.try_divide(
                    F.sum(F.col("f") * (F.col("f") - 1)).cast("double"),
                    n * (F.sum("f") - 1),
                )
            ).alias("simpson_d"),
        )
        .orderBy("lang")
    )


@register(
    "t_burstiness",
    r"""
    WITH percount AS (
        SELECT word, doc_id, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(text), '\s+')) AS word
              FROM documents)
        GROUP BY word, doc_id
    ),
    d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    stats AS (
        SELECT word,
               CAST(sum(c) AS BIGINT) AS tf,
               CAST(count(*) AS BIGINT) AS df,
               CAST(sum(c * c) AS BIGINT) AS sq
        FROM percount GROUP BY word
    )
    SELECT word, tf, df,
           round(tf * 1.0 / df, 6) + 0 AS burstiness,
           round((CAST(sq AS DOUBLE) / d.n_docs
                  - (CAST(tf AS DOUBLE) / d.n_docs)
                    * (CAST(tf AS DOUBLE) / d.n_docs))
                 / (CAST(tf AS DOUBLE) / d.n_docs), 6) + 0 AS fano_factor
    FROM stats, d
    ORDER BY tf DESC, word LIMIT 20
    """,
)
def t_burstiness(spark, sf_dir):
    """Word burstiness census for the 20 highest-frequency words:
    Church-Gale burstiness E[tf | tf>0] = tf/df (how hard a word hits
    the documents it appears in at all) and the cross-document Fano
    factor (variance-to-mean of the per-doc count INCLUDING zeros,
    = 1 under Poisson scatter, > 1 for topical/bursty words). Function
    words sit near Poisson while content words burst — the deviation
    is the classic keywordness signal (Church & Gale 1995) and, flipped
    around, a template detector: machine-repeated phrases burst far
    beyond any natural content word.

    Scale: one (word, doc) count groupBy then a vocabulary-cardinality
    rollup of three BIGINT sums; top-20 is TakeOrdered (tf desc, word
    tiebreak) — never a global rank window. Zeros are handled in
    closed form via the n_docs broadcast scalar, so the sparse
    (word, doc) frame is the ONLY thing that ever shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    percount = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("word"),
        )
        .groupBy("word", "doc_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    nd = docs.agg(F.count("*").cast("long").alias("n_docs"))
    stats = percount.groupBy("word").agg(
        F.sum("c").cast("long").alias("tf"),
        F.count("*").cast("long").alias("df"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sq"),
    )
    mu = F.col("tf").cast("double") / F.col("n_docs")
    return (
        stats.crossJoin(F.broadcast(nd))
        .select(
            "word",
            "tf",
            "df",
            f6(F.col("tf") * 1.0 / F.col("df")).alias("burstiness"),
            f6(
                (F.col("sq").cast("double") / F.col("n_docs") - mu * mu) / mu
            ).alias("fano_factor"),
        )
        .orderBy(F.col("tf").desc(), "word")
        .limit(20)
    )


@register(
    "t_codepoint_profile",
    r"""
    WITH per_doc AS (
        SELECT source,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(regexp_replace(text, '[^\x00-\x7f]', '', 'g'))
                    AS BIGINT) AS n_ascii,
               CAST(length(text)
                    - length(regexp_replace(text,
                          '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g'))
                    AS BIGINT) AS n_ctrl,
               CAST(length(text)
                    - length(replace(text, chr(65533), ''))
                    AS BIGINT) AS n_fffd
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(sum(n_ascii) * 1.0 / sum(n_chars), 6) + 0 AS ascii_ratio,
           CAST(sum(n_ctrl) AS BIGINT) AS n_control,
           CAST(sum(n_fffd) AS BIGINT) AS n_replacement,
           CAST(sum(CASE WHEN n_ascii < n_chars THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_with_nonascii
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def t_codepoint_profile(spark, sf_dir):
    """Codepoint-hygiene census per source: ASCII share, bare control
    characters (C0 minus tab/LF/CR — the bytes that should never
    survive a clean decode), U+FFFD replacement characters (the
    smoking gun of a WRONG-CHARSET decode — every FFFD is a byte
    sequence some upstream reader destroyed), and how many docs carry
    any non-ASCII at all. This is the mojibake/encoding gate every
    production corpus pipeline runs BEFORE language ID (CCNet-style
    stacks drop or re-decode documents on exactly these counters);
    on the synthetic ASCII fixtures the honest expected profile is
    ascii_ratio = 1, zero control, zero FFFD — the same
    null-calibration framing as t_watermark_detect (the clean corpus
    IS the detector's negative control, pytest-pinned, with a
    dirty-document positive control pinned on a scratch fixture).

    Scale: three regexp_replace length probes per document — pure
    map-side JVM codegen, no UDF, no join; the rollup is one
    source-keyed map-combinable aggregate. At 100 TB this is a
    scan-speed pass, which is why it runs FIRST in real pipelines.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_ascii = F.length(F.regexp_replace("text", r"[^\x00-\x7F]", ""))
    n_ctrl = F.length("text") - F.length(
        F.regexp_replace("text", r"[\x00-\x08\x0B\x0C\x0E-\x1F]", "")
    )
    n_fffd = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit("�"), F.lit(""))
    )
    per_doc = docs.select(
        "source",
        n_chars.cast("long").alias("n_chars"),
        n_ascii.cast("long").alias("n_ascii"),
        n_ctrl.cast("long").alias("n_ctrl"),
        n_fffd.cast("long").alias("n_fffd"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            f6(F.sum("n_ascii") * 1.0 / F.sum("n_chars")).alias(
                "ascii_ratio"
            ),
            F.sum("n_ctrl").cast("long").alias("n_control"),
            F.sum("n_fffd").cast("long").alias("n_replacement"),
            F.sum(
                F.when(F.col("n_ascii") < F.col("n_chars"), 1).otherwise(0)
            )
            .cast("long")
            .alias("docs_with_nonascii"),
        )
        .orderBy("source")
    )


@register(
    "t_good_turing",
    r"""
    WITH freq AS (
        SELECT lang, word, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT lang,
                     unnest(string_split_regex(lower(text), '\s+')) AS word
              FROM documents)
        GROUP BY lang, word
    ),
    fof AS (
        SELECT lang, f AS r, CAST(count(*) AS BIGINT) AS nr
        FROM freq GROUP BY lang, f
    ),
    s AS (
        SELECT lang,
               CAST(sum(r * nr) AS BIGINT) AS n_tokens,
               CAST(sum(nr) AS BIGINT) AS vocab,
               CAST(coalesce(sum(CASE WHEN r = 1 THEN nr END), 0)
                    AS BIGINT) AS n1,
               CAST(coalesce(sum(CASE WHEN r = 2 THEN nr END), 0)
                    AS BIGINT) AS n2,
               CAST(coalesce(sum(CASE WHEN r = 3 THEN nr END), 0)
                    AS BIGINT) AS n3,
               CAST(coalesce(sum(CASE WHEN r = 4 THEN nr END), 0)
                    AS BIGINT) AS n4
        FROM fof GROUP BY lang
    )
    SELECT lang, n_tokens, vocab, n1, n2, n3, n4,
           round(n1 * 1.0 / n_tokens, 6) + 0 AS p_unseen,
           round(CASE WHEN n1 > 0 THEN 2.0 * n2 / n1 END, 6) + 0
               AS rstar_1,
           round(CASE WHEN n2 > 0 THEN 3.0 * n3 / n2 END, 6) + 0
               AS rstar_2,
           round(CASE WHEN n3 > 0 THEN 4.0 * n4 / n3 END, 6) + 0
               AS rstar_3
    FROM s ORDER BY lang
    """,
)
def t_good_turing(spark, sf_dir):
    """Good-Turing frequency estimation per language: the unseen-mass
    estimate P₀ = N₁/N (the probability the NEXT token is a word never
    seen — Good 1953, the quantity every smoothed language model and
    every "how much more data do we need" curve rests on) plus the
    adjusted counts r* = (r+1)·N_{r+1}/N_r for r = 1..3 read straight
    off the frequency-of-frequencies table. r* < r for small r is the
    Good-Turing discount in the raw (pre-smoothing) form; a language
    where N₂ = 0 leaves r*₁ SQL NULL on both engines (the CASE guard
    — the honest answer, since the raw estimator is undefined there)
    rather than an ANSI divide-by-zero.

    Exactness: the freq-of-freq table is two exact BIGINT groupBys
    stacked on t_yule_k's vocabulary frame; N, V, N₁..N₄ are
    conditional BIGINT sums; only the final four ratios are floats.

    Scale: the (lang, word) vocab census is the one data-sized
    shuffle (shared shape with t_yule_k / t_zipf_fit); the second
    groupBy runs on the vocabulary-cardinality frame and the r-axis
    rollup on the tiny freq-of-freq frame — both shrink, never grow,
    with corpus size.
    """
    freq = (
        load_table(spark, sf_dir, "documents")
        .select(
            "lang",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("word"),
        )
        .groupBy("lang", "word")
        .agg(F.count("*").cast("long").alias("f"))
    )
    fof = freq.groupBy("lang", F.col("f").alias("r")).agg(
        F.count("*").cast("long").alias("nr")
    )
    s = fof.groupBy("lang").agg(
        F.sum(F.col("r") * F.col("nr")).cast("long").alias("n_tokens"),
        F.sum("nr").cast("long").alias("vocab"),
        *[
            F.coalesce(
                F.sum(F.when(F.col("r") == i, F.col("nr"))), F.lit(0)
            )
            .cast("long")
            .alias(f"n{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    return s.select(
        "lang",
        "n_tokens",
        "vocab",
        "n1",
        "n2",
        "n3",
        "n4",
        f6(F.col("n1") * 1.0 / F.col("n_tokens")).alias("p_unseen"),
        f6(
            F.when(F.col("n1") > 0, 2.0 * F.col("n2") / F.col("n1"))
        ).alias("rstar_1"),
        f6(
            F.when(F.col("n2") > 0, 3.0 * F.col("n3") / F.col("n2"))
        ).alias("rstar_2"),
        f6(
            F.when(F.col("n3") > 0, 4.0 * F.col("n4") / F.col("n3"))
        ).alias("rstar_3"),
    ).orderBy("lang")


@register(
    "t_burrows_delta",
    r"""
    WITH tok AS (
        SELECT source, word
        FROM (SELECT source,
                     unnest(string_split_regex(lower(text), '\s+')) AS word
              FROM documents)
    ),
    totals AS (
        SELECT source, CAST(count(*) AS BIGINT) AS toks
        FROM tok GROUP BY source
    ),
    top AS (
        SELECT word FROM tok GROUP BY word
        ORDER BY count(*) DESC, word LIMIT 20
    ),
    cnt AS (
        SELECT t.source, t.word, CAST(count(*) AS BIGINT) AS c
        FROM tok t JOIN top ON top.word = t.word
        GROUP BY t.source, t.word
    ),
    rel AS (
        SELECT sc.source, sc.word,
               coalesce(c.c, 0) * 1.0 / tt.toks AS fr
        FROM (SELECT s.source, w.word
              FROM (SELECT DISTINCT source FROM totals) s, top w) sc
        LEFT JOIN cnt c ON c.source = sc.source AND c.word = sc.word
        JOIN totals tt ON tt.source = sc.source
    ),
    z AS (
        SELECT source, word,
               (fr - avg(fr) OVER (PARTITION BY word))
                   / stddev_samp(fr) OVER (PARTITION BY word) AS z
        FROM rel
    )
    SELECT a.source AS source_a, b.source AS source_b,
           round(avg(abs(a.z - b.z)), 6) + 0 AS delta
    FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY delta DESC, source_a, source_b LIMIT 15
    """,
)
def t_burrows_delta(spark, sf_dir):
    """Burrows' Delta — the classic stylometric authorship distance
    (Burrows 2002, public): z-score each source's relative frequency
    of the corpus's top-20 words against the cross-source
    distribution of that word, then Delta(a, b) = mean |z_a − z_b|
    over the word axis; the 15 most stylistically DISTANT source
    pairs surface. Function-word frequencies are the fingerprint
    authorship analysis actually uses (content words track topic,
    function words track author) — the provenance cousin of
    t_source_signature (which hashes content) and t_mix_temperature
    (which weighs volume): Delta sees two sources writing the same
    TOPIC differently.

    The z frame is the (source × top-word) scaffold, zero-filled so a
    source missing a top word is a real 0-frequency observation.
    Counts and token totals are BIGINT-exact; relative frequencies,
    the per-word mean/stddev (over exactly n_sources values), and the
    final Delta are the float tail, 6dp-snapped.

    Scale: the (source, word) count for the top-20 list is one
    vocab-shaped groupBy; everything after runs on the
    sources × 20 scaffold (bounded by the catalog of sources, not
    the corpus) — the pair join fans out to C(n_sources, 2) × 20
    rows, metadata scale until the source catalog itself is large,
    at which point you block pairs by language or registry the same
    way the dedup family blocks candidates.
    """
    tok = load_table(spark, sf_dir, "documents").select(
        "source",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("word"),
    )
    totals = tok.groupBy("source").agg(
        F.count("*").cast("long").alias("toks")
    )
    top = (
        tok.groupBy("word")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "word")
        .limit(20)
        .select("word")
    )
    cnt = (
        tok.join(F.broadcast(top), "word")
        .groupBy("source", "word")
        .agg(F.count("*").cast("long").alias("c"))
    )
    scaffold = totals.select("source", "toks").crossJoin(F.broadcast(top))
    rel = scaffold.join(cnt, ["source", "word"], "left").select(
        "source",
        "word",
        (F.coalesce(F.col("c"), F.lit(0)) * 1.0 / F.col("toks")).alias(
            "fr"
        ),
    )
    ww = Window.partitionBy("word")
    # try_divide: a top word with IDENTICAL relative frequency in every
    # source has stddev 0 — its z goes NULL on both engines (DuckDB /0
    # is NULL; the NULL rows drop out of the pair average identically)
    # instead of an ANSI crash.
    z = rel.select(
        "source",
        "word",
        F.try_divide(
            F.col("fr") - F.avg("fr").over(ww),
            F.stddev_samp("fr").over(ww),
        ).alias("z"),
    )
    a, b = z.alias("a"), z.alias("b")
    return (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(f6(F.avg(F.abs(F.col("a.z") - F.col("b.z")))).alias("delta"))
        .orderBy(F.col("delta").desc(), "source_a", "source_b")
        .limit(15)
    )


@register(
    "t_edit_distance_dedup",
    r"""
    WITH d0 AS (
        SELECT doc_id, lang, n_chars // 32 AS band,
               lower(substring(text, 1, 64)) AS pfx,
               string_split_regex(lower(text), '\s+')[1] AS tok1
        FROM documents
    ),
    bsize AS (
        SELECT lang, tok1, band, count(*) AS bc
        FROM d0 GROUP BY 1, 2, 3
    ),
    d AS (
        SELECT d0.* FROM d0
        JOIN bsize ON bsize.lang = d0.lang AND bsize.tok1 = d0.tok1
                  AND bsize.band = d0.band
        WHERE bsize.bc <= 64
    ),
    pairs AS (
        SELECT a.lang, levenshtein(a.pfx, b.pfx) AS dist
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.tok1 = b.tok1
         AND a.band = b.band
         AND a.doc_id < b.doc_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_pairs_checked,
           CAST(sum(CASE WHEN dist <= 16 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_neardup,
           CAST(min(dist) AS BIGINT) AS min_dist,
           round(avg(CAST(dist AS DOUBLE)), 6) + 0 AS avg_dist
    FROM pairs GROUP BY lang ORDER BY lang
    """,
)
def t_edit_distance_dedup(spark, sf_dir):
    """Edit-distance near-dup detection with candidate blocking — the
    CHARACTER-level member of the dedup ladder (Jaccard sees shared
    shingles, SimHash/MinHash see shared hash bands; Levenshtein sees
    small character edits that break every shingle, the OCR-noise /
    typo-variant case). Candidates are blocked on (lang, first token,
    32-char length band); within a block, the exact Levenshtein
    distance of the 64-char lowercase prefixes is computed JVM-side
    (built-in `levenshtein`, identical to DuckDB's), near-dup at
    dist ≤ 16. Per-language audit row: pairs checked, near-dups,
    min/avg distance.

    Blocking is the load-bearing scale choice: Levenshtein is O(m·n)
    per PAIR, so the unblocked census is O(docs²·len²). Blocks larger
    than 64 members are DROPPED before pairing (t_jaccard_neardup_
    capped's df≤64 discipline verbatim): on a Zipf corpus the
    top-first-token block grows ∝N (half the corpus starts with
    'the') while carrying ~zero dedup signal — the cap bounds every
    block's fan-out at C(64,2) regardless of corpus size, which is
    what keeps the SCALECHECK ladder linear. The fixture's max block
    is 3 docs, so the cap is hash-neutral there. At 100 TB the block
    key upgrades to a signature (t_prefix_filter_join's prefix
    tokens, or a SimHash band) feeding the SAME bounded per-pair
    verify; this key IS that verify stage, measured.

    Exactness: levenshtein returns identical integers on both engines
    (unit-cost insert/delete/substitute over the same substring); all
    counts BIGINT; only avg_dist is float.
    """
    d0 = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.lower(F.substring("text", 1, 64)).alias("pfx"),
        F.split(F.lower("text"), r"\s+").getItem(0).alias("tok1"),
        F.floor(F.col("n_chars") / 32).cast("long").alias("band"),
    )
    bsize = d0.groupBy("lang", "tok1", "band").agg(
        F.count("*").alias("bc")
    )
    d = d0.join(
        bsize.where(F.col("bc") <= 64).drop("bc"),
        ["lang", "tok1", "band"],
    )
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.tok1") == F.col("b.tok1"))
        & (F.col("a.band") == F.col("b.band"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.lang").alias("lang"),
        F.levenshtein(F.col("a.pfx"), F.col("b.pfx")).alias("dist"),
    )
    return (
        pairs.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_pairs_checked"),
            F.sum(F.when(F.col("dist") <= 16, 1).otherwise(0))
            .cast("long")
            .alias("n_neardup"),
            F.min("dist").cast("long").alias("min_dist"),
            f6(F.avg(F.col("dist").cast("double"))).alias("avg_dist"),
        )
        .orderBy("lang")
    )


_TR_ITER_SQL = """
    s{next} AS (
        SELECT e.dst AS word,
               round(0.15 + 0.85 * sum(e.w * s{cur}.s / d.wd), 9) AS s
        FROM edges e
        JOIN s{cur} ON s{cur}.word = e.src
        JOIN wdeg d ON d.word = e.src
        GROUP BY e.dst
    )"""


@register(
    "t_textrank_keywords",
    rf"""
    WITH docarr AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS arr
        FROM documents
    ),
    toks AS (
        SELECT arr[i] AS w
        FROM docarr, unnest(range(1, len(arr) + 1)) AS t(i)
        WHERE length(arr[i]) >= 4
    ),
    freq AS (
        SELECT w, CAST(count(*) AS BIGINT) AS f
        FROM toks GROUP BY w
    ),
    keep AS (
        SELECT w FROM freq ORDER BY f DESC, w LIMIT 200
    ),
    pairs0 AS (
        SELECT arr[i] AS src, arr[i + 1] AS dst
        FROM docarr, unnest(range(1, len(arr))) AS t(i)
        UNION ALL
        SELECT arr[i] AS src, arr[i + 2] AS dst
        FROM docarr, unnest(range(1, len(arr) - 1)) AS t(i)
    ),
    pairs AS (
        SELECT p.src, p.dst, CAST(count(*) AS BIGINT) AS w
        FROM pairs0 p
        JOIN keep ka ON ka.w = p.src
        JOIN keep kb ON kb.w = p.dst
        WHERE length(p.src) >= 4 AND length(p.dst) >= 4
          AND p.src <> p.dst
        GROUP BY p.src, p.dst
    ),
    edges AS (
        SELECT src, dst, w FROM pairs
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM pairs
    ),
    wdeg AS (
        SELECT src AS word, CAST(sum(w) AS BIGINT) AS wd
        FROM edges GROUP BY src
    ),
    s0 AS (SELECT word, 1.0 AS s FROM wdeg),
    {_TR_ITER_SQL.format(cur=0, next=1)},
    {_TR_ITER_SQL.format(cur=1, next=2)},
    {_TR_ITER_SQL.format(cur=2, next=3)}
    SELECT word, round(s, 6) + 0 AS score
    FROM s3 ORDER BY score DESC, word LIMIT 20
    """,
)
def t_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau 2004, public):
    PageRank with damping 0.85 over the word co-occurrence graph
    (window 2, words ≥ 4 chars, vocabulary capped at the top-200
    frequent words), 3 fixed iterations, top-20 keywords. The
    UNSUPERVISED keyword extractor next to t_rake_keywords (degree
    heuristics) and t_collocations_pmi (pair association): TextRank
    rewards words that sit in DENSE neighborhoods of other central
    words — recursive centrality RAKE's one-hop degree cannot see.
    The weighted-edge recursion s(w) = 0.15 + 0.85·Σ w(v,w)/wdeg(v)
    ·s(v) is the graph.py r_pagerank discipline applied to text, with
    the same unrolled-CTE oracle and per-iteration 9dp snap making
    the fixpoint engine-exact.

    Scale: the vocab cap is the load-bearing bound — the co-occurrence
    graph of a 200-word vocabulary has ≤200² edges REGARDLESS of
    corpus size, so the three iterations are broadcast-sized joins;
    only the tokenize + window-pair census touch data grain, and both
    are one groupBy each (the t_collocations_pmi shape). At 100 TB
    you raise the cap per-domain, not globally — keyword graphs
    saturate long before memory does.
    """
    # r17 measured revert: caching this split-array frame to share one
    # scan between the vocab pass and the pair census was 19% SLOWER
    # warm (1.85 -> 2.20 s) — materializing the tokenized arrays costs
    # more than the second columnar parquet scan + re-split. Two lazy
    # scans stay.
    docarr = load_table(spark, sf_dir, "documents").select(
        F.split(F.lower("text"), r"\s+").alias("arr")
    )
    toks = (
        docarr.select(F.explode("arr").alias("w"))
        .where(F.length("w") >= 4)
    )
    keep = (
        toks.groupBy("w")
        .agg(F.count("*").cast("long").alias("f"))
        .orderBy(F.col("f").desc(), "w")
        .limit(200)
        .select("w")
    )
    # window-2 pairs generated MAP-SIDE from the token array (the
    # shingles pattern) — a doc-keyed positional self-join would
    # produce O(T^2) candidates per doc before the range filter; this
    # form emits exactly 2T pairs per doc, no join, no shuffle until
    # the pair census.
    def _gap(g):
        # length/inequality filters INSIDE the array expression: the
        # explode then emits only qualifying pairs (short zipf-head
        # words never become rows at all)
        return F.expr(
            f"filter(transform(sequence(0, size(arr) - {g + 1}),"
            f" i -> struct(arr[i] AS src, arr[i + {g}] AS dst)),"
            f" p -> length(p.src) >= 4 AND length(p.dst) >= 4"
            f" AND p.src <> p.dst)"
        )

    pairs0 = docarr.select(
        F.explode(F.concat(_gap(1), _gap(2))).alias("p")
    ).select("p.src", "p.dst")
    pairs = (
        pairs0
        .join(F.broadcast(keep.withColumnRenamed("w", "ka")),
              F.col("src") == F.col("ka"))
        .join(F.broadcast(keep.withColumnRenamed("w", "kb")),
              F.col("dst") == F.col("kb"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("w"))
    )
    # shared: the cached edge frame feeds six references (wdeg + 3
    # iterations' joins), and re-invocations must reuse ONE cached frame
    # instead of accumulating orphans (round-14 advice).
    edges = shared_frame(
        spark, sf_dir, "textrank_edges",
        lambda: pairs.select("src", "dst", "w").unionByName(
            pairs.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        ),
    )
    wdeg = edges.groupBy(F.col("src").alias("word")).agg(
        F.sum("w").cast("long").alias("wd")
    )
    s = wdeg.select("word", F.lit(1.0).alias("s"))
    for _ in range(3):
        s = (
            edges.join(s, edges.src == s.word)
            .join(wdeg.withColumnRenamed("word", "dword"),
                  edges.src == F.col("dword"))
            .groupBy(F.col("dst").alias("word2"))
            .agg(
                F.round(
                    0.15 + 0.85 * F.sum(F.col("w") * F.col("s") / F.col("wd")),
                    9,
                ).alias("s")
            )
            .select(F.col("word2").alias("word"), "s")
        )
    return (
        s.select("word", f6(F.col("s")).alias("score"))
        .orderBy(F.col("score").desc(), "word")
        .limit(20)
    )


@register(
    "t_self_bleu",
    r"""
    WITH toks AS (
        SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS w
        FROM documents
    ),
    bg AS (
        SELECT DISTINCT doc_id, lang, w[i] || ' ' || w[i + 1] AS g
        FROM toks, unnest(range(1, len(w))) AS t(i)
    ),
    df AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM bg GROUP BY g),
    per AS (
        SELECT b.doc_id, b.lang,
               CAST(count(*) AS BIGINT) AS n_bg,
               CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared
        FROM bg b JOIN df d ON d.g = b.g
        GROUP BY b.doc_id, b.lang
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_shared * 1.0 / n_bg), 6) + 0 AS avg_self_bleu2,
           round(max(n_shared * 1.0 / n_bg), 6) + 0 AS max_self_bleu2,
           CAST(sum(CASE WHEN n_shared * 2 >= n_bg THEN 1 ELSE 0 END)
                AS BIGINT) AS n_half_shared
    FROM per GROUP BY lang ORDER BY lang
    """,
)
def t_self_bleu(spark, sf_dir):
    """Self-BLEU-2 corpus-diversity readout (the distinct-bigram
    containment form of Zhu et al. 2018's Self-BLEU, public): per doc,
    the fraction of its DISTINCT bigrams that also appear in at least
    one OTHER document — high values mean the corpus is talking to
    itself (template farms, synthetic-data mode collapse), the
    diversity failure Self-BLEU was invented to flag in generated
    corpora. Reported per language with the mean, the worst doc, and
    the count of half-shared docs; distinct-bigram containment (not
    clipped counts) keeps the statistic exact and order-free. The
    corpus-level diversity complement to t_repetition_filter (within-
    doc) and t_boilerplate_ngrams (fixed 25% df gate — this key keeps
    the whole df spectrum per doc instead of thresholding grams).

    Scale: one distinct (doc, bigram) projection (map-side partial
    distinct), the bigram df groupBy, and a gram-keyed join back —
    t_boilerplate_ngrams' exact shuffle shape; per-doc and per-lang
    rollups are doc-keyed aggs. A bigram occurring in ≥2 docs answers
    "appears in another doc" without any self-exclusion pair join.
    """
    from .dedup import bigram_array

    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower("text"), r"\s+")
    bg = (
        docs.select("doc_id", "lang", w.alias("w"))
        .select("doc_id", "lang", F.explode(bigram_array()).alias("g"))
        .distinct()
    )
    df = bg.groupBy("g").agg(F.count("*").cast("long").alias("df"))
    per = (
        bg.join(df, "g")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("long").alias("n_bg"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
        )
    )
    frac = F.col("n_shared") * 1.0 / F.col("n_bg")
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            f6(F.avg(frac)).alias("avg_self_bleu2"),
            f6(F.max(frac)).alias("max_self_bleu2"),
            F.sum(
                F.when(F.col("n_shared") * 2 >= F.col("n_bg"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_half_shared"),
        )
        .orderBy("lang")
    )


@register(
    "t_chao1_vocab",
    r"""
    WITH freq AS (
        SELECT lang, word, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT lang,
                     unnest(string_split_regex(lower(text), '\s+')) AS word
              FROM documents)
        GROUP BY lang, word
    ),
    s AS (
        SELECT lang,
               CAST(sum(f) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS vocab,
               CAST(coalesce(sum(CASE WHEN f = 1 THEN 1 END), 0)
                    AS BIGINT) AS f1,
               CAST(coalesce(sum(CASE WHEN f = 2 THEN 1 END), 0)
                    AS BIGINT) AS f2
        FROM freq GROUP BY lang
    )
    SELECT lang, n_tokens, vocab, f1, f2,
           round(vocab + f1 * (f1 - 1.0) / (2.0 * (f2 + 1)), 6) + 0
               AS chao1,
           round(f1 * (f1 - 1.0) / (2.0 * (f2 + 1)), 6) + 0
               AS undetected_est,
           round(1.0 - f1 * 1.0 / n_tokens, 6) + 0 AS coverage
    FROM s ORDER BY lang
    """,
)
def t_chao1_vocab(spark, sf_dir):
    """Chao1 vocabulary-richness estimator per language (Chao 1984,
    public; the bias-corrected form Ŝ = V + f₁(f₁−1)/(2(f₂+1)) that
    stays defined when f₂ = 0): HOW MANY WORD TYPES EXIST that this
    corpus hasn't seen yet — the question "is more crawl worth it"
    reduces to, answered from nothing but the hapax (f₁) and
    dis-legomena (f₂) counts. Printed with the Good-Turing sample
    coverage Ĉ = 1 − f₁/N (Chao & Lee 1992), the fraction of the
    population's token mass the corpus already captures — the same f₁
    mass t_good_turing spends on r*, spent here on richness. The
    asymptote complement to t_heaps_law's growth-curve view.

    Exactness: V, f₁, f₂, N are exact BIGINT rollups off the (lang,
    word) vocab census; the two closed-form ratios are the only
    floats, snapped at 6dp.

    Scale: the (lang, word) census is the one data-sized shuffle (the
    shared t_yule_k / t_good_turing shape — at 100 TB it
    hash-partitions on the word key with map-side combine); the
    per-lang rollup runs on the vocabulary-cardinality frame.
    """
    freq = (
        load_table(spark, sf_dir, "documents")
        .select(
            "lang",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("word"),
        )
        .groupBy("lang", "word")
        .agg(F.count("*").cast("long").alias("f"))
    )
    s = freq.groupBy("lang").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.coalesce(F.sum(F.when(F.col("f") == 1, 1)), F.lit(0))
        .cast("long")
        .alias("f1"),
        F.coalesce(F.sum(F.when(F.col("f") == 2, 1)), F.lit(0))
        .cast("long")
        .alias("f2"),
    )
    undet = F.col("f1") * (F.col("f1") - 1.0) / (2.0 * (F.col("f2") + 1))
    return s.select(
        "lang",
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        f6(F.col("vocab") + undet).alias("chao1"),
        f6(undet).alias("undetected_est"),
        f6(1.0 - F.col("f1") * 1.0 / F.col("n_tokens")).alias("coverage"),
    ).orderBy("lang")


@register(
    "t_hill_diversity",
    r"""
    WITH freq AS (
        SELECT lang, word, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT lang,
                     unnest(string_split_regex(lower(text), '\s+')) AS word
              FROM documents)
        GROUP BY lang, word
    ),
    tot AS (
        SELECT lang, CAST(sum(f) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS v,
               CAST(sum(f * f) AS BIGINT) AS sf2
        FROM freq GROUP BY lang
    ),
    ent AS (
        SELECT freq.lang,
               CAST(sum(CAST(round((f * 1.0 / n) * ln(f * 1.0 / n) * 1e12)
                             AS BIGINT)) AS BIGINT) AS h12
        FROM freq JOIN tot ON freq.lang = tot.lang
        GROUP BY freq.lang
    )
    SELECT tot.lang, n AS n_tokens, v AS d0_richness,
           round(exp(-h12 / 1e12), 6) + 0 AS d1_shannon,
           round(n * 1.0 * n / sf2, 6) + 0 AS d2_simpson,
           round(CASE WHEN v > 1 THEN (-h12 / 1e12) / ln(CAST(v AS DOUBLE))
                 END, 6) + 0 AS pielou_evenness
    FROM tot JOIN ent ON tot.lang = ent.lang
    ORDER BY tot.lang
    """,
)
def t_hill_diversity(spark, sf_dir):
    """Hill-number diversity profile per language (Hill 1973, public):
    the effective vocabulary size at three orders — D₀ = richness
    (every type counts equally), D₁ = exp(Shannon H) (types weighted
    by frequency), D₂ = 1/Σp² = inverse Simpson (dominant types only).
    D₀ ≥ D₁ ≥ D₂ always, with EQUALITY iff the distribution is
    perfectly even — so the profile's spread is the skew of the token
    distribution in interpretable "effective types" units (the ecology
    framing Jost 2006 standardized; for corpora: how template-dominated
    is this language's text). Pielou's J = H/ln V closes the row with
    the classical evenness normalization.

    Exactness: D₂ = N²/Σf² is an exact BIGINT ratio; each type's
    p·ln p term snaps to a 1e-12 BIGINT before the per-lang sum (the
    a_js_divergence transcendental discipline) so D₁ is order-free
    and engine-identical.

    Scale: the (lang, word) census is the one data-sized shuffle; the
    totals join and entropy rollup run on the vocabulary-cardinality
    frame with map-side partials. The lang totals frame is tiny and
    broadcast.
    """
    freq = (
        load_table(spark, sf_dir, "documents")
        .select(
            "lang",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("word"),
        )
        .groupBy("lang", "word")
        .agg(F.count("*").cast("long").alias("f"))
    )
    tot = freq.groupBy("lang").agg(
        F.sum("f").cast("long").alias("n"),
        F.count("*").cast("long").alias("v"),
        F.sum(F.col("f") * F.col("f")).cast("long").alias("sf2"),
    )
    p = F.col("f") * 1.0 / F.col("n")
    ent = (
        freq.join(F.broadcast(tot.select("lang", "n")), "lang")
        .groupBy("lang")
        .agg(
            F.sum(F.round(p * F.log(p) * 1e12).cast("long"))
            .cast("long")
            .alias("h12")
        )
    )
    return (
        tot.join(ent, "lang")
        .select(
            "lang",
            F.col("n").alias("n_tokens"),
            F.col("v").alias("d0_richness"),
            f6(F.exp(-F.col("h12") / 1e12)).alias("d1_shannon"),
            f6(F.col("n") * 1.0 * F.col("n") / F.col("sf2")).alias(
                "d2_simpson"
            ),
            f6(
                F.when(
                    F.col("v") > 1,
                    (-F.col("h12") / 1e12)
                    / F.log(F.col("v").cast("double")),
                )
            ).alias("pielou_evenness"),
        )
        .orderBy("lang")
    )
