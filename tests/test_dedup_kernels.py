"""Dedup kernel regressions: shingling and persisted-RDD hygiene.

The shingle set is the input of every MinHash/Jaccard query, and its
DuckDB twin (`_SHINGLE_DUCK`) mirrors Spark's partial-shingle rule
for 1- and 2-token docs, so a respelling must be frame-identical to
the original one-expression form, short docs included.

`l02_minhash_neardup` once materialized its candidate pairs with an
eager ``localCheckpoint`` at build time and never released it: every
call on a new directory left one more persisted RDD in the session.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hetnetdb_spark import registry
from hetnetdb_spark.catalog import load_tables
from hetnetdb_spark.pipeline.dedup import shingles
from tests.conftest import SF_DIR

registry.load_all()

#: The pre-split spelling: ``split(text, ' ')`` inside the per-index
#: lambda, evaluated once per shingle.
_INLINE_SPLIT_SHINGLES = (
    "array_distinct(transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)), "
    "i -> concat_ws(' ', slice(split(text, ' '), i, 3))))"
)


def _as_lists(pdf):
    return (
        pdf.assign(sh=pdf["sh"].map(list))
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def test_shingles_match_inline_split_spelling(spark):
    (documents,) = load_tables(spark, SF_DIR, "documents")
    short = spark.createDataFrame(
        [
            (-1, "solo"),        # 1 token: one partial shingle
            (-2, "two words"),   # 2 tokens: one partial shingle
            (-3, ""),            # empty text: [""] after split
            (-4, "a  b c"),      # double space: an empty token
            (-5, "x y z"),       # exactly one full shingle
        ],
        "doc_id bigint, text string",
    )
    docs = documents.select("doc_id", "text").unionByName(short)
    old = docs.select("doc_id", F.expr(_INLINE_SPLIT_SHINGLES).alias("sh"))
    new = shingles(docs, "doc_id")
    assert new.columns == ["doc_id", "sh"]
    old_pdf, new_pdf = _as_lists(old.toPandas()), _as_lists(new.toPandas())
    assert len(new_pdf) == documents.count() + 5
    assert old_pdf.equals(new_pdf)
    by_id = dict(zip(new_pdf["doc_id"], new_pdf["sh"]))
    assert by_id[-1] == ["solo"] and by_id[-2] == ["two words"]


def test_minhash_leaves_no_persisted_rdd(spark, tmp_path):
    """A fresh directory misses every plan and table cache, so the
    call builds and executes the whole query; afterwards the session
    must hold exactly the persisted RDDs it held before."""
    os.symlink(
        os.path.join(SF_DIR, "documents.parquet"),
        os.path.join(tmp_path, "documents.parquet"),
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    rows = registry.QUERIES["l02_minhash_neardup"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert jsc.getPersistentRDDs().size() == before
