"""The shared subword-tokenizer scaffold (``operators/subword.py``): the
one encode contract all three tokenizers inherit, and the one lossless
round-trip gate the registry rows apply, checked against their oracles."""

from __future__ import annotations

import pytest

from kusuma_metamorph_etl_spark.operators import bpe, unigram
from kusuma_metamorph_etl_spark.operators import wordpiece as wp

NBSP = "\u00a0"


def _bpe(df):
    return bpe.bpe_encode(df, [("a", "a")])


def _unigram(df):
    return unigram.unigram_encode(df, {"a": -1.0, "aa": -1.0})


def _wordpiece(df):
    return wp.wordpiece_encode(df, ["a", "##a", NBSP, "##" + NBSP])


@pytest.mark.parametrize(
    "encode, nbsp_tokens, marker, error",
    [
        (_bpe, ["aa", NBSP, "aa", bpe.END], bpe.END, "END sentinel"),
        (_unigram, ["aa", NBSP, "aa", bpe.END], bpe.END, "END sentinel"),
        (_wordpiece, ["a", "##a", "##" + NBSP, "##a", "##a"], "##", "continuation marker"),
    ],
    ids=["bpe", "unigram", "wordpiece"],
)
def test_encode_contract(spark, encode, nbsp_tokens, marker, error):
    """NULL text gives NULL tokens, blank text gives no tokens, NBSP is
    not a separator (only ``[\\t\\n\\f\\r ]`` splits words, as in
    training and the oracle), and the reserved marker fails the task."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, f"aa{NBSP}aa")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["tokens"] for r in encode(df).collect()}
    assert got[1] is None
    assert got[2] == [] and got[3] == []
    assert got[4] == nbsp_tokens
    poisoned = spark.createDataFrame([(f"ok {marker}bad",)], ["text"])
    with pytest.raises(Exception, match=error):
        encode(poisoned).collect()


@pytest.mark.parametrize(
    "query", ["txt_bpe_roundtrip", "txt_unigram_roundtrip", "txt_wordpiece_roundtrip"]
)
def test_roundtrip_gate_keeps_every_row_the_oracle_keeps(spark, tmp_path, query):
    """A leading newline, a trailing tab and a vertical tab inside a word
    all round-trip losslessly; the gate must not drop them (Spark's
    ``trim`` strips only spaces, Java's ``\\s`` also matches ``\\x0B``).
    A NULL-text doc round-trips as NULL and is kept with a NULL length."""
    import duckdb
    import pandas as pd

    from kusuma_metamorph_etl_spark.registry import REGISTRY, queries

    queries()  # ensure registry is loaded
    spec = REGISTRY[query]
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                "plain text here",
                "\nleading newline doc",
                "trailing tab\t",
                "mid\x0bvtab word",
                None,
            ],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    got = sorted(
        (r["doc_id"], r["n_norm_chars"])
        for r in spec.fn(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = sorted(con.execute(spec.oracle).fetchall())
    assert len(want) == 5
    assert got == want
