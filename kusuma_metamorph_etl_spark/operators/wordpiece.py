"""[EXT] WordPiece: the third REAL trainable subword tokenizer next to
:mod:`bpe` (merge-frequency criterion) and :mod:`unigram` (likelihood
pruning) — the BERT-family algorithm (Schuster & Nakajima 2012; Wu et
al. 2016 §4.1).  It shares BPE's scaffold (`subword.py`: word table,
merge loop, encode UDF, round-trip gate); what differs is the selection
rule and the encoder:

* TRAINING picks the merge maximizing the LIKELIHOOD RATIO
  ``count(ab) / (count(a) * count(b))`` — "merge the pair that is most
  surprising under independence", not the most frequent pair.  Rare but
  strongly-associated pairs (morphemes) merge before frequent-but-
  incidental ones.
* ENCODING is greedy LONGEST-MATCH-FIRST against the final vocabulary
  (no merge replay): the longest vocab prefix of the remaining word is
  emitted, continuation pieces carry the ``##`` prefix, and a word with
  any uncovered character becomes ``[UNK]`` wholesale.

Scale split and word format: `subword.py` docstring.  Training adds one
tiny distinct-character pass that seeds the vocabulary with the corpus
alphabet, so encoding the training corpus never hits ``[UNK]`` and the
round-trip gate is exact.

Determinism: scores compare as exact rationals (no float ties), ties
break on the lexicographically smallest pair — same contract as
`bpe_train`.
"""

from __future__ import annotations

from collections import Counter
from fractions import Fraction

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.operators import subword

CONT = "##"
UNK = "[UNK]"


def _word_symbols(word: str) -> list[str]:
    """BERT convention: first character bare, the rest ##-prefixed."""
    return [word[0]] + [CONT + ch for ch in word[1:]]


def _merge_symbols(a: str, b: str) -> str:
    """Merging keeps the LEFT symbol's continuation status; the right
    symbol is always a continuation piece inside a word."""
    return a + (b[len(CONT) :] if b.startswith(CONT) else b)


def _best_ratio(pairs: Counter, sym_counts: Counter) -> subword.Pair | None:
    """WordPiece's selection rule: the highest likelihood ratio
    ``count(ab) / (count(a) * count(b))`` among pairs seen at least
    twice, as an exact rational; ties to the smallest pair."""
    scored = (
        (Fraction(-cp, sym_counts[p[0]] * sym_counts[p[1]]), p)
        for p, cp in pairs.items()
        if cp >= 2
    )
    return min(scored, default=(None, None))[1]


def wordpiece_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 256,
) -> list[str]:
    """Learn a WordPiece vocabulary: corpus alphabet (bare + ## forms of
    every distinct character — full corpus, not just the truncated word
    table, so training-corpus coverage is total) plus ``n_merges``
    likelihood-ratio merges over the word table
    (:func:`subword.word_counts`).  Returns the vocabulary list
    (alphabet sorted, then merges in creation order)."""
    from kusuma_metamorph_etl_spark.operators.text import words

    table = subword.word_counts(df, text_col)
    chars = F.explode(F.split(F.concat_ws("", words(F.col(text_col))), ""))
    alpha = df.select(chars.alias("ch")).filter(F.col("ch") != "").distinct()
    # bound: one row per distinct character of the corpus
    alphabet = sorted(r["ch"] for r in alpha.collect())
    merges = subword.learn_merges(
        [_word_symbols(w) for w, _ in table],
        [c for _, c in table],
        n_merges,
        _best_ratio,
        _merge_symbols,
    )

    alphabet_forms = [form for ch in alphabet for form in (ch, CONT + ch)]
    return list(dict.fromkeys(alphabet_forms + [_merge_symbols(*p) for p in merges]))


def encode_word(word: str, vocab: set[str]) -> list[str]:
    """Greedy longest-match-first WordPiece encode of one word; a word
    with any uncovered span becomes ``[UNK]`` wholesale (BERT
    semantics).  A word literally beginning with ``##`` is REJECTED: its
    bare piece would decode as a continuation, so the round trip would
    be silently lossy (the bpe END-sentinel contract)."""
    if word.startswith(CONT):
        raise ValueError(
            f"wordpiece_encode: word {word!r} starts with the continuation marker "
            f"{CONT!r}; round-trip would be lossy — pre-clean the corpus or "
            "choose a different marker"
        )
    pieces: list[str] = []
    start = 0
    while start < len(word):
        end = len(word)
        prefix = "" if start == 0 else CONT
        while end > start:
            cand = prefix + word[start:end]
            if cand in vocab:
                pieces.append(cand)
                break
            end -= 1
        if end == start:
            return [UNK]
        start = end
    return pieces


def wordpiece_encode(
    df: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    out_col: str = "tokens",
) -> DataFrame:
    """Distributed longest-match encode (:func:`subword.encode`)."""
    vset = set(vocab)
    return subword.encode(df, lambda w: encode_word(w, vset), text_col, out_col)


def wordpiece_decode(tokens: Column) -> Column:
    """Invert :func:`wordpiece_encode` up to whitespace normalization:
    a bare piece starts a new word (leading space), a ``##`` piece
    appends — pure column expression, no UDF.  ``[UNK]`` decodes to
    itself (lossy by design; the round-trip gate drops such rows)."""
    glued = F.array_join(
        F.transform(
            tokens,
            lambda t: F.when(
                t.startswith(CONT), F.substring(t, len(CONT) + 1, 2**30)
            ).otherwise(F.concat(F.lit(" "), t)),
        ),
        "",
    )
    return F.ltrim(glued)
