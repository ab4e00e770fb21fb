"""WordPiece tokenizer tests: likelihood-ratio merge order (the
criterion that separates it from BPE), longest-match encode, [UNK]
semantics, lossless round-trip on the corpus, alphabet coverage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.operators import wordpiece as wp


def test_likelihood_ratio_beats_raw_frequency(spark):
    """'xy' always co-occur (10x), 'ab' is more frequent (30x) but a and
    b are each diluted by solo appearances — the WordPiece score merges
    (x, ##y) first, where BPE would take the most frequent pair.
    Counts: ab x30, xy x10, az x30, qb x30:
      pair (a,##b): 30 / (count a=60 * count ##b... b appears as ##b in
      ab and qb -> 60) -> 30/3600
      pair (x,##y): 10 / (10 * 10) -> 1/10  <- wins despite freq 10
    """
    corpus = " ".join(["ab"] * 30 + ["xy"] * 10 + ["az"] * 30 + ["qb"] * 30)
    df = spark.createDataFrame([(corpus,)], ["text"])
    vocab = wp.wordpiece_train(df, n_merges=1)
    merged = [v for v in vocab if len(v.lstrip("#")) > 1 and v != "##"]
    assert merged == ["xy"]


def test_encode_longest_match_and_continuations(spark):
    vocab = {"p", "##l", "##a", "##y", "play", "##ing", "##i", "##n", "##g"}
    assert wp.encode_word("playing", vocab) == ["play", "##ing"]
    assert wp.encode_word("play", vocab) == ["play"]
    # no 'l' bare form and no piece starting the word -> per-char from p
    assert wp.encode_word("pl", vocab) == ["p", "##l"]


def test_unknown_character_makes_whole_word_unk(spark):
    vocab = {"a", "##a"}
    assert wp.encode_word("aQa", vocab) == [wp.UNK]
    assert wp.encode_word("aa", vocab) == ["a", "##a"]


def test_roundtrip_lossless_on_corpus(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    vocab = wp.wordpiece_train(docs, n_merges=100)
    assert sum(len(v.lstrip("#")) > 1 for v in vocab) > 10
    encoded = wp.wordpiece_encode(docs, vocab)
    normalized = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    bad = encoded.filter(wp.wordpiece_decode(F.col("tokens")) != normalized)
    assert bad.count() == 0
    stats = encoded.select(
        F.avg(F.size("tokens")).alias("t"),
        F.avg(F.length("text")).alias("c"),
    ).first()
    assert stats["t"] < stats["c"]  # merges actually compress


def test_training_alphabet_covers_corpus_no_unk(spark, monkeypatch):
    """Vocabulary seeds from the FULL corpus alphabet (not the truncated
    word table), so encoding the training corpus never yields [UNK] —
    even for words too rare to make the MAX_WORDS cut."""
    from kusuma_metamorph_etl_spark.operators import subword

    monkeypatch.setattr(subword, "MAX_WORDS", 1)
    rows = [("common common common rareøword",)]
    df = spark.createDataFrame(rows, ["text"])
    vocab = wp.wordpiece_train(df, n_merges=5)
    toks = (
        wp.wordpiece_encode(df, vocab).select("tokens").first()["tokens"]
    )
    assert wp.UNK not in toks


def test_null_text_passes_through(spark):
    df = spark.createDataFrame([(None,), ("aa",)], "text string")
    vocab = ["a", "##a"]
    got = {
        r["text"]: r["tokens"]
        for r in wp.wordpiece_encode(df, vocab).collect()
    }
    assert got[None] is None
    assert got["aa"] == ["a", "##a"]


def test_decode_is_pure_expression_and_inverts(spark):
    df = spark.createDataFrame(
        [(["play", "##ing", "the", "##m"],)], "tokens array<string>"
    )
    out = df.select(wp.wordpiece_decode(F.col("tokens")).alias("s")).first()
    assert out["s"] == "playing them"


def test_continuation_marker_input_rejected(spark):
    """A word literally starting with ## must fail loudly — its bare
    piece would decode as a continuation (the bpe END-sentinel
    contract, applied to WordPiece's marker)."""
    df = spark.createDataFrame([("ok ##bad",)], ["text"])
    with pytest.raises(Exception, match="continuation marker"):
        wp.wordpiece_encode(df, ["o", "##k", "#", "###", "b", "##a", "##d"]).collect()
    # '#' INSIDE a word is fine: continuation form is '###'
    df2 = spark.createDataFrame([("a#b",)], ["text"])
    toks = (
        wp.wordpiece_encode(df2, ["a", "###", "##b"]).select("tokens").first()["tokens"]
    )
    assert toks == ["a", "###", "##b"]
    out = df2.sparkSession.createDataFrame(
        [(toks,)], "tokens array<string>"
    ).select(wp.wordpiece_decode(F.col("tokens")).alias("s")).first()["s"]
    assert out == "a#b"


def _naive_train(word_counts, n_merges):
    """Textbook WordPiece trainer: full pair/symbol recount each merge
    — the reference the incremental bookkeeping must match exactly."""
    from collections import Counter
    from fractions import Fraction

    words_syms = {w: wp._word_symbols(w) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        pairs, syms = Counter(), Counter()
        for w, c in word_counts.items():
            ws = words_syms[w]
            for s in ws:
                syms[s] += c
            for i in range(len(ws) - 1):
                pairs[(ws[i], ws[i + 1])] += c
        best, best_score = None, None
        for p, cp in pairs.items():
            if cp < 2:
                continue
            score = Fraction(cp, syms[p[0]] * syms[p[1]])
            if best_score is None or score > best_score or (
                score == best_score and p < best
            ):
                best, best_score = p, score
        if best is None:
            break
        merged = wp._merge_symbols(*best)
        merges.append(merged)
        for w, ws in words_syms.items():
            out, i = [], 0
            while i < len(ws):
                if i < len(ws) - 1 and (ws[i], ws[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(ws[i])
                    i += 1
            words_syms[w] = out
    return merges


def test_incremental_bookkeeping_matches_naive_recount(spark):
    """The incremental pair/symbol-count maintenance must produce the
    EXACT merge sequence of the full-recount reference on a corpus with
    overlapping words and repeated merges inside one word."""
    import random

    rng = random.Random(5)
    alphabet = "abcde"
    vocab_words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(2, 8)))
        for _ in range(30)
    ]
    counts = {w: rng.randint(1, 9) for w in set(vocab_words)}
    corpus = " ".join(w for w, c in counts.items() for _ in range(c))
    df = spark.createDataFrame([(corpus,)], ["text"])
    got_vocab = wp.wordpiece_train(df, n_merges=25)
    # strip the alphabet seeds: merges are the vocab entries of length>1
    # modulo the ## prefix
    got_merges = [
        v for v in got_vocab
        if (v.startswith("##") and len(v) > 3) or (not v.startswith("##") and len(v) > 1)
    ]
    expect = _naive_train(counts, 25)
    assert got_merges == expect
