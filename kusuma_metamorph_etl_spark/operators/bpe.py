"""[EXT] Byte-pair encoding: a REAL trainable subword tokenizer (Sennrich
et al. 2016 — the algorithm behind GPT/Llama-family vocabularies), not the
regex approximation `text.py::bpe_ish_token_count` uses for cheap counts.

Training-data pipelines need actual tokenization for budget accounting
(`sampling.py::pack_sequences` packs by token count) and for length
filtering that matches what the downstream model will see.

Scale split, word format and determinism: `subword.py` docstring.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.operators import subword

# Marks the end of each word so merges never cross word boundaries and
# decoding can restore the original whitespace split losslessly.
END = "▁"  # LOWER ONE EIGHTH BLOCK, the sentencepiece convention


def _most_frequent(pairs: Counter, sym_counts: Counter) -> subword.Pair | None:
    """BPE's selection rule: the most frequent pair seen at least twice,
    ties to the lexicographically smallest pair."""
    return min(((-c, p) for p, c in pairs.items() if c >= 2), default=(0, None))[1]


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 256,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus word-frequency table
    (:func:`subword.word_counts`): classic driver-side BPE, END-terminated
    words, most frequent pair first."""
    table = subword.word_counts(df, text_col)
    return subword.learn_merges(
        [list(w) + [END] for w, _ in table],
        [c for _, c in table],
        n_merges,
        _most_frequent,
        lambda a, b: a + b,
    )


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first BPE encode of one word (the standard
    inference algorithm: repeatedly merge the best-ranked adjacent pair).

    A word containing the END sentinel is REJECTED: decode maps every
    END to a space, so encoding it would make the round trip silently
    lossy.  The sentinel is a block-drawing codepoint real text corpora
    do not contain; a corpus that does needs a different sentinel, not
    silent corruption."""
    if END in word:
        raise ValueError(
            f"bpe_encode: input contains the END sentinel {END!r}; "
            "round-trip would be lossy — pre-clean the corpus or "
            "choose a different sentinel"
        )
    parts = list(word) + [END]
    while len(parts) > 1:
        best_rank, best_i = None, None
        for i in range(len(parts) - 1):
            rank = ranks.get((parts[i], parts[i + 1]))
            if rank is not None and (best_rank is None or rank < best_rank):
                best_rank, best_i = rank, i
        if best_i is None:
            break
        parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
    return parts


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "tokens",
) -> DataFrame:
    """Distributed encode (:func:`subword.encode`) with the merge table
    as ranks."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    return subword.encode(df, lambda w: encode_word(w, ranks), text_col, out_col)


def bpe_decode(tokens: Column) -> Column:
    """Invert :func:`bpe_encode` up to whitespace normalization: join
    subwords, then every END marker becomes a single space.  Pure column
    expression."""
    return F.rtrim(
        F.replace(
            F.array_join(tokens, ""), F.lit(END), F.lit(" ")
        )
    )
