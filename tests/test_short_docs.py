"""A document with fewer than 2 tokens has no shingles and crashes no key.

Under ANSI mode the unguarded bigram transform ``sequence(0, size(w) - 2)``
turns into [0, -1] for a one-token document, and the w[1] lookup raises
INVALID_ARRAY_INDEX. The oracles' ``range(1, len(w))`` emits nothing for
such a document. The shipped fixtures have no document under 10 tokens,
so this copy of the sf0.001 tables adds a one-token and an empty-text
document inside the doc_id < 1000 slice the bounded shingle keys read.
"""

import shutil

import duckdb
import pytest

from npc_recommender_netflix_spark.session import TABLES
from tests.conftest import SF_SMALL
from tools.check import run_one

SHORT_DOCS = {998: "hello", 999: ""}


@pytest.fixture(scope="module")
def short_sf(tmp_path_factory):
    out = tmp_path_factory.mktemp("sf_short_docs")
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_SMALL}/{t}.parquet", out / f"{t}.parquet")
    rows = ", ".join(
        f"(CAST({i} AS BIGINT), '{text}', 'en', 'src0', CAST({len(text)} AS BIGINT))"
        for i, text in SHORT_DOCS.items()
    )
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{SF_SMALL}/documents.parquet') "
        f"UNION ALL SELECT * FROM (VALUES {rows}) "
        "t(doc_id, text, lang, source, n_chars)) "
        f"TO '{out}/documents.parquet' (FORMAT PARQUET)"
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out}/{t}.parquet')"
        )
    got = con.execute(
        "SELECT doc_id FROM documents WHERE doc_id IN (998, 999) ORDER BY 1"
    ).fetchall()
    assert got == [(998,), (999,)]
    return str(out), con


@pytest.mark.parametrize("key", [
    "t_fingerprint", "t_jaccard_neardup", "t_dup_clusters",
    "t_ngram_bigram", "t_bigram_nll", "t_kneser_ney",
])
def test_short_docs_match_oracle(spark, short_sf, key):
    sf_dir, con = short_sf
    status, _, problems, _, _ = run_one(spark, con, key, sf_dir)
    assert status == "OK", problems
