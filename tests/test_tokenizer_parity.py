"""One token rule, three implementations: ``text.tokens_col`` (JVM
``split(lower(text), '\\s+')``), ``text.py_tokens`` (the Arrow passes of
``lm.doc_tok_counts_arrow`` and the dedup shingler) and the DuckDB oracles'
``string_split_regex(lower(text), '\\s+')``. Pinned equal on strings where
Unicode-aware splitting (Python's ``str.split()``) would diverge."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from imagingdb_spark.operators.lm import doc_tok_counts_arrow
from imagingdb_spark.operators.text import py_tokens, tokens_col

# Unicode whitespace that ``\s`` does not match (ASCII-only in Java and
# RE2), an empty string and NULL.
ADVERSARIAL = [
    "no\u00a0break space",  # NBSP
    "line\u2028separator here",
    "ideographic\u3000space",
    "next\u0085line",  # NEL
    "zero\u200bwidth",  # zero-width space
    "",
    None,
    "  Mixed\tCASE\nwords\fand\rmore  ",
    "dup dup DUP\u00a0dup",
]
# Java's \s also matches vertical tab; RE2's (DuckDB's) does not, so this
# one is checked against the JVM side only.
JVM_ONLY = ["vertical\x0btab Word"]


@pytest.fixture(scope="module")
def docs(spark):
    rows = list(enumerate(ADVERSARIAL + JVM_ONLY))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_py_tokens_equal_tokens_col(docs):
    got = {
        r.doc_id: r.toks
        for r in docs.select("doc_id", tokens_col(F.col("text")).alias("toks")).collect()
    }
    for i, text in enumerate(ADVERSARIAL + JVM_ONLY):
        # tokens_col of NULL is NULL; both sides have no tokens
        assert py_tokens(text) == (got[i] or []), repr(text)


def test_py_tokens_equal_duckdb_oracle():
    con = duckdb.connect()
    for text in ADVERSARIAL:
        (want,) = con.execute(
            r"SELECT list_filter(string_split_regex(lower(?), '\s+'), t -> t <> '')",
            [text],
        ).fetchone()
        assert py_tokens(text) == (want or []), repr(text)


def test_arrow_counts_equal_explode_counts(docs):
    arrow = {
        (r.doc_id, r.tok, r.c)
        for r in doc_tok_counts_arrow(docs, ["doc_id"]).collect()
    }
    jvm = {
        (r.doc_id, r.tok, r.c)
        for r in docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .withColumnRenamed("count", "c")
        .collect()
    }
    assert arrow == jvm
    # the unsplit Unicode-whitespace tokens are really there
    assert (0, "no\u00a0break", 1) in arrow
    last = len(ADVERSARIAL) - 1
    assert {(t, c) for d, t, c in arrow if d == last} == {
        ("dup", 2),
        ("dup\u00a0dup", 1),
    }
