"""One whitespace tokenizer for Spark and DuckDB (operators/tokenizer).

`tokens_sql` renders the lowercase/collapse/trim/split token array over
`WS_CLASS` for both engines. Java's `\\s` matches U+000B and RE2's does
not, so any Spark tokenizer spelled with `\\s` splits "a\\x0bb" where its
DuckDB oracle does not. These tests run the builder and every driver
query whose Spark tokenizer moved to it over edge rows (vertical tab,
the other ASCII whitespace, U+00A0, U+3000, whitespace-only, empty,
NULL) and compare each with its DuckDB form on the same rows.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E
from cld2_spark.operators.tokenizer import tokens_sql

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))
from check_contract import normalize  # noqa: E402

BODY = ("the quick brown fox jumps over the lazy dog again and again "
        "while the cat sleeps soundly tonight")
EDGE_TEXTS = [
    "a\x0bb c " + BODY.replace(" ", "\x0b", 3),
    "\tx\fy\r\nz " + BODY.replace(" ", "\t", 2).replace(" ", "\r\n", 1),
    "one\x0btwo three four five six seven eight nine ten eleven twelve",
    "x\u00a0y " + BODY,
    "x\u3000y fox\x0bdog cat",
    " \t\n\r\f ",
    "",
    None,
]

# driver queries whose Spark tokenizer is tokens_sql (or, for
# token_stats, a split on WS_CLASS), each with its pinned DuckDB oracle
QUERIES = {
    "dedup_jaccard": E._q_dedup_jaccard,          # ngram_jaccard_pairs
    "dup_spans": E._q_dup_spans,                  # duplicated_spans
    "dup_span_cuts": E._q_dup_span_cuts,          # duplicated_span_cuts
    "heavy_hitters": E._q_heavy_hitters,          # sketches token stream
    "quality_rank_filter": E._q_quality_rank_filter,
    "winnow_fingerprints": E._q_winnow_fingerprints,
    "top_ngrams": E._q_top_ngrams,
    "curation_pipeline": E._q_curation_pipeline,
    "doc_chunks": E._q_doc_chunks,
    "dedup_keep_best": E._q_dedup_keep_best,
    "token_stats": E._q_token_stats,
}


def _documents() -> pd.DataFrame:
    return pd.DataFrame(
        [(i, t, "en", f"src{i % 2}", None if t is None else len(t))
         for i, t in enumerate(EDGE_TEXTS)],
        columns=["doc_id", "text", "lang", "source", "n_chars"])


@pytest.fixture(scope="module")
def engines(spark):
    """Spark views and a DuckDB connection over the same edge rows. The
    views are dropped afterwards, so the next driver query re-registers
    the real tables."""
    pdf = _documents()
    spark.createDataFrame(
        pdf.astype(object).where(pdf.notna(), None),
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint").createOrReplaceTempView("documents")
    spark.sql(E.DUP_DOCS_SQL).createOrReplaceTempView("dup_docs")
    con = duckdb.connect()
    con.register("documents", pdf)
    try:
        yield spark, con
    finally:
        con.close()
        for v in ("documents", "dup_docs"):
            spark.catalog.dropTempView(v)


@pytest.mark.parametrize("drop_empty", [False, True])
def test_tokens_sql_same_arrays_in_both_engines(engines, drop_empty):
    spark, con = engines
    got = dict(spark.sql(
        f"SELECT doc_id, {tokens_sql('text', 'spark', drop_empty)} AS tk "
        "FROM documents").toPandas().itertuples(index=False))
    want = dict(con.execute(
        f"SELECT doc_id, {tokens_sql('text', 'duckdb', drop_empty)} AS tk "
        "FROM documents").fetchall())
    norm = {k: None if v is None else list(v) for k, v in got.items()}
    assert norm == want
    assert want[0][:2] == ["a\x0bb", "c"]
    assert want[1][:3] == ["x", "y", "z"]
    assert want[3][0] == "x\u00a0y" and want[4][0] == "x\u3000y"
    assert want[5] == want[6] == ([] if drop_empty else [""])
    assert want[7] is None


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle_on_whitespace_edge_rows(engines, name):
    spark, con = engines
    got = normalize(QUERIES[name](spark, "").toPandas())
    want = normalize(con.execute(E.oracle_sql()[name]).df())
    assert len(want) > 0
    assert list(got.columns) == list(want.columns)
    assert got.values.tolist() == want.values.tolist()


def test_no_java_whitespace_escape_in_spark_sql():
    """No Spark SQL literal spells `\\s` (Java's class includes U+000B):
    in Python source that is four backslashes before the `s`; a DuckDB
    literal has two. `kernels/quality.features_sql` keeps it on purpose
    and is not scanned: the langid kernel reproduces its word count."""
    java_ws = re.compile(r"\\{4}s")
    files = sorted((REPO / "cld2_spark" / "operators").glob("*.py"))
    files.append(REPO / "__spark_entry__.py")
    hits = [f"{p.name}:{i}" for p in files
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if java_ws.search(line)]
    assert not hits
