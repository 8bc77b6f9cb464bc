"""The correctness gate, run locally: every registered query with an oracle is
executed on Spark and DuckDB at sf0.01 and compared exactly — the same check
the driver performs for CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from purldb_spark.catalog.tables import load
from purldb_spark.functions.text import (
    SHINGLES_SQL,
    span_scrub,
    span_scrub_sql,
    teacher_keep_spark,
    teacher_keep_sql,
    teacher_score_spark,
    teacher_score_sql,
    winnow_fingerprints,
    WINNOW_SQL,
    word_grams,
    word_grams_sql,
)
from purldb_spark.operators.dedup import word_shingles
from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import ORACLES, QUERIES, load_inventory
from tests.conftest import SF_CORRECT, assert_same_result

load_inventory()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, oracle):
    df = QUERIES[name](spark, SF_CORRECT)
    if name in ORACLES:
        assert_same_result(df, oracle, ORACLES[name])
    else:
        # weaker rows-only check for non-SQL-expressible ops
        assert df.count() >= 0


def test_part_packages_matches_oracle_twin(spark, oracle):
    # the one derivation both sides of every miner/collector oracle share:
    # drift on either side fails here, before it fails 41 query oracles
    assert_same_result(part_packages(spark, SF_CORRECT), oracle, PART_PACKAGES_SQL)


# the shared token-level features of functions/text.py, each Spark builder
# against its hand-written DuckDB twin: (builder over documents, twin SQL)
TEXT_TWINS = {
    "shingles": (
        lambda docs: word_shingles(docs, "doc_id", "text", n=3),
        SHINGLES_SQL,
    ),
    "word_grams_3": (lambda docs: word_grams(docs, 3), word_grams_sql(3)),
    "word_grams_10": (lambda docs: word_grams(docs, 10), word_grams_sql(10)),
    "winnow": (winnow_fingerprints, WINNOW_SQL),
    "span_scrub": (
        lambda docs: span_scrub(
            docs, word_grams(docs, 3).filter(F.col("i0") % 4 == 0), 3
        ),
        span_scrub_sql(
            f"SELECT doc_id, i0 FROM ({word_grams_sql(3)}) WHERE i0 % 4 = 0", 3
        ),
    ),
    # keep as 0/1: pandas reads a NULL boolean as None from Spark but as
    # NaN from DuckDB, while a NULL int is NaN from both
    "teacher": (
        lambda docs: docs.select(
            "doc_id",
            F.expr(teacher_score_spark()).alias("score"),
            F.expr(teacher_keep_spark()).cast("int").alias("keep"),
        ),
        f"SELECT doc_id, {teacher_score_sql()} AS score,"
        f" CAST({teacher_keep_sql()} AS INTEGER) AS keep FROM documents",
    ),
}

# NULL text, '', one word, exactly 3 / 5 / 10 words, a double space, and a
# 12-word passage repeated across two documents
_PASSAGE = "the quick brown fox jumps over the lazy dog and runs away"
EDGE_DOCS = [
    (1, None),
    (2, ""),
    (3, "solo"),
    (4, "one two three"),
    (5, "one two three four five"),
    (6, "a b c d e f g h i j"),
    (7, "alpha  beta gamma delta epsilon zeta"),
    (8, _PASSAGE),
    (9, "intro words " + _PASSAGE + " outro"),
]


@pytest.fixture(scope="module")
def edge_docs(spark, tmp_path_factory):
    """(Spark frame, DuckDB connection) over the same edge-case documents
    parquet, registered as the connection's own `documents` view."""
    path = str(tmp_path_factory.mktemp("edge_docs") / "documents.parquet")
    con = duckdb.connect()
    values = ", ".join(
        f"({i}, {'NULL' if t is None else repr(t)})" for i, t in EDGE_DOCS
    )
    con.execute(
        f"COPY (SELECT CAST(doc_id AS BIGINT) AS doc_id,"
        f" CAST(text AS VARCHAR) AS text"
        f" FROM (VALUES {values}) v(doc_id, text)) TO '{path}' (FORMAT PARQUET)"
    )
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    yield spark.read.parquet(path), con
    con.close()


@pytest.mark.parametrize("twin", sorted(TEXT_TWINS))
def test_text_feature_matches_oracle_twin(twin, spark, oracle):
    build, sql = TEXT_TWINS[twin]
    docs = load(spark, SF_CORRECT, "documents")
    assert_same_result(build(docs), oracle, sql)


@pytest.mark.parametrize("twin", sorted(TEXT_TWINS))
def test_text_feature_twin_on_edge_docs(twin, edge_docs):
    build, sql = TEXT_TWINS[twin]
    docs, con = edge_docs
    assert_same_result(build(docs), con, sql)


def test_plans_do_not_restate_text_features():
    """Source fence: the word-gram slicing, the position explode and the
    teacher weight hash live in functions/text.py; plan modules call the
    shared builders and twins instead of keeping their own copy."""
    import purldb_spark.plans as pkg

    banned = (
        "list_slice(w, i",
        "slice(w, i",
        "'qw|'",
        "explode(sequence(1, size(w)",
    )
    hits = [
        f"{os.path.basename(path)}: {b}"
        for path in sorted(glob.glob(os.path.join(pkg.__path__[0], "*.py")))
        for b in banned
        if b in open(path).read()
    ]
    assert hits == []


def test_every_query_has_oracle_or_reason():
    missing = [n for n in QUERIES if n not in ORACLES]
    # the no-oracle list is exact, not a prefix allowance:
    # f5_seqmatch_rank: SequenceMatcher.ratio is not SQL-expressible;
    # exact parity is proven by tests/test_seqmatch.py instead
    assert set(missing) == {"f5_seqmatch_rank"}, (
        f"queries without oracle: {missing}"
    )
