"""[EXT] The scaffold the three trainable subword tokenizers share
(:mod:`bpe`, :mod:`unigram`, :mod:`wordpiece`); each of those modules
keeps only what makes its algorithm different.

Scale split, same pattern as `similarity.py::ivf_build`:

* TRAIN is a bounded driver-side loop over the aggregated word-frequency
  table (:func:`word_counts`): the corpus reduces to ≤ ``MAX_WORDS``
  (word, count) rows — at 100 TB that aggregation is one shuffle, and the
  training loop touches only that small table.
* ENCODE is distributed (:func:`encode`): the trained table ships in the
  closure of an Arrow-batched pandas UDF (KBs, broadcast by task
  serialization); cost is per token and embarrassingly parallel.

Word format.  Words split on the ``[\\t\\n\\f\\r ]+`` class of
:func:`~.text.words` (RE2's ``\\s``; NOT Python ``str.split()``, whose
Unicode whitespace — NBSP, vertical tab, … — would disagree with the
training tokenization).  :func:`encode` folds the other four class
characters to a space with ``str.translate`` and splits on ``" "``:
character-exact to the regex split but in C.  Each tokenizer reserves a
marker for decoding (BPE/unigram's END, WordPiece's ``##``); its
``encode_word`` raises on input containing it, because encoding it
would make the round trip silently lossy.

Determinism: every training choice breaks ties on the lexicographically
smallest candidate, so the same sample yields the same vocabulary on
every run and platform — required for the oracle-gated round-trip rows.
"""

from __future__ import annotations

from collections import Counter
from typing import Callable

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The word table keeps the most frequent words only: rare-tail words
# contribute negligible pair and piece mass.
MAX_WORDS = 5000

# The word-split class, as a Java regex run (see the module docstring).
WS_RUN = r"[\t\n\f\r ]+"

_FOLD_WS = str.maketrans("\t\n\f\r", "    ")

Pair = tuple[str, str]


def word_counts(df: DataFrame, text_col: str) -> list[tuple[str, int]]:
    """The corpus word-frequency table: the ``MAX_WORDS`` most frequent
    (word, count) rows, ties by word."""
    from kusuma_metamorph_etl_spark.operators.text import words

    top = (
        df.select(F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(MAX_WORDS)
    )
    # bound: at most MAX_WORDS rows
    return [(r["w"], r["c"]) for r in top.collect()]


def learn_merges(
    words_syms: list[list[str]],
    counts: list[int],
    n_merges: int,
    pick: Callable[[Counter, Counter], Pair | None],
    join: Callable[[str, str], str],
) -> list[Pair]:
    """Learn up to ``n_merges`` pair merges over count-weighted words.

    ``pick(pairs, sym_counts)`` chooses the next pair from the live pair
    and symbol counts, or returns None to stop; ``join(a, b)`` builds the
    merged symbol.  ``words_syms`` is rewritten in place.

    Bookkeeping is incremental: a pair→word index means each merge
    retracts, rewrites and re-adds ONLY the words containing the merged
    pair, so the loop costs O(occurrences of merged pairs) instead of
    the textbook recount's O(n_merges × total vocabulary chars).  Merge
    order is pinned identical to the naive recount under both selection
    rules (tests/test_bpe.py, tests/test_wordpiece.py).
    """
    pairs: Counter = Counter()
    sym_counts: Counter = Counter()
    index: dict[Pair, set[int]] = {}

    def tally(wi: int, sign: int) -> None:
        syms, c = words_syms[wi], sign * counts[wi]
        for s in syms:
            sym_counts[s] += c
        for p in zip(syms, syms[1:]):
            pairs[p] += c
            if sign > 0:
                index.setdefault(p, set()).add(wi)
                continue
            if pairs[p] <= 0:
                del pairs[p]
            index.get(p, set()).discard(wi)

    for wi in range(len(words_syms)):
        tally(wi, 1)
    merges: list[Pair] = []
    for _ in range(n_merges):
        pair = pick(pairs, sym_counts)
        if pair is None:
            break
        merges.append(pair)
        merged = join(*pair)
        for wi in sorted(index.pop(pair)):
            tally(wi, -1)
            # left to right, non-overlapping: a merged symbol never
            # equals pair[0], so it cannot merge again
            out: list[str] = []
            for s in words_syms[wi]:
                if out and (out[-1], s) == pair:
                    out[-1] = merged
                else:
                    out.append(s)
            words_syms[wi] = out
            tally(wi, 1)
    return merges


def encode(
    df: DataFrame,
    encode_word: Callable[[str], list[str]],
    text_col: str,
    out_col: str,
) -> DataFrame:
    """Tokens as ``array<string>``: every word of ``text_col`` through
    ``encode_word``, concatenated.  NULL text passes through as NULL
    tokens (``Series.map`` hands None to the mapped fn, it is not
    auto-skipped)."""

    @F.pandas_udf("array<string>")
    def enc(texts: pd.Series) -> pd.Series:
        def one(t: str | None) -> list[str] | None:
            if t is None:
                return None
            out: list[str] = []
            for w in t.translate(_FOLD_WS).split(" "):
                if w:
                    out.extend(encode_word(w))
            return out

        return texts.map(one)

    return df.withColumn(out_col, enc(F.col(text_col)))


def lossless(encoded: DataFrame, decoded: Column) -> DataFrame:
    """The round-trip gate: keep the rows whose ``decoded`` tokens equal
    the whitespace-normalized ``text`` (split-class runs collapsed to one
    space, then trimmed — exactly what the encoders split on).  NULL text
    decodes to NULL and is kept."""
    normalized = F.trim(F.regexp_replace(F.col("text"), WS_RUN, " "))
    return encoded.filter(decoded.eqNullSafe(normalized))
