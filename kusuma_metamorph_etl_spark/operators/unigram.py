"""[EXT] Unigram-LM subword tokenizer: the SECOND real trainable
tokenizer family (Kudo 2018, "Subword Regularization" — the algorithm
behind SentencePiece's default model), complementing `bpe.py`.  Where
BPE grows a vocabulary bottom-up by merging, unigram starts from a
large seed of candidate pieces and PRUNES to the target size under an
EM-estimated piece language model; encoding is Viterbi-optimal
segmentation instead of greedy merge replay.

Scale split and word format: `subword.py` docstring.

Simplifications, declared: hard (Viterbi) EM rather than full
forward-backward expectation — the M-step counts each word's single best
segmentation (monotone in the Viterbi objective, pinned by test); pruning
is count-ranked rather than loss-ranked.  Losslessness does NOT depend
on either choice: single characters are never pruned and unseen
characters encode as themselves under a fixed UNK penalty, so
decode(encode(text)) always restores the whitespace-normalized text —
the same gate contract as `txt_bpe_roundtrip`.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame

from kusuma_metamorph_etl_spark.operators import subword
from kusuma_metamorph_etl_spark.operators.bpe import END

# Log-prob assigned to out-of-vocabulary single characters at encode
# time: low enough that any in-vocab segmentation wins, finite so every
# string segments (UNK-free byte-fallback, the sentencepiece
# character-coverage idea).
UNK_LOGP = -100.0

# Training shape: seed pieces up to MAX_PIECE_LEN chars, keep
# SEED_FACTOR x vocab_size seed candidates, run EM_ITERS hard-EM rounds.
MAX_PIECE_LEN = 8
SEED_FACTOR = 8
EM_ITERS = 3


def viterbi_segment(word: str, logp: dict[str, float], max_len: int) -> list[str]:
    """Best segmentation of ``word`` under piece log-probs: standard
    Viterbi over cut positions.  Ties break toward the LONGER last piece
    (deterministic; fewer, longer pieces — the convention tests pin).
    Unknown single characters cost ``UNK_LOGP`` so every word segments.
    """
    n = len(word)
    best = [0.0] + [-math.inf] * n
    back = [0] * (n + 1)
    for j in range(1, n + 1):
        for i in range(max(0, j - max_len), j):
            piece = word[i:j]
            lp = logp.get(piece)
            if lp is None:
                if j - i == 1:
                    lp = UNK_LOGP
                else:
                    continue
            cand = best[i] + lp
            # strictly-greater keeps the SMALLEST i (longest piece) on ties
            # because i ascends and we overwrite only on improvement …
            # except equal scores from different i: take the first (small
            # i = long piece) by using > against the running best.
            if cand > best[j]:
                best[j] = cand
                back[j] = i
    out: list[str] = []
    j = n
    while j > 0:
        i = back[j]
        out.append(word[i:j])
        j = i
    out.reverse()
    return out


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 512,
) -> dict[str, float]:
    """Learn a unigram piece vocabulary: ``{piece: log-prob}``.

    Seed = every substring (≤ ``MAX_PIECE_LEN``) of the frequent words,
    count-weighted, truncated to ``SEED_FACTOR × vocab_size`` candidates
    (single characters always kept — the losslessness floor); then
    ``EM_ITERS`` rounds of hard EM: Viterbi-segment every word under the
    current model, recount pieces from the segmentations, re-normalize,
    and prune count-ranked toward ``vocab_size`` (ties lexicographic, so
    the vocabulary is deterministic across runs/platforms).
    """
    wc = subword.word_counts(df, text_col)
    seed: Counter = Counter()
    chars: set[str] = set()
    for w, c in wc:
        for i in range(len(w)):
            chars.add(w[i])
            for j in range(i + 1, min(i + MAX_PIECE_LEN, len(w)) + 1):
                seed[w[i:j]] += c
    keep_n = max(SEED_FACTOR * vocab_size, len(chars))
    ranked = sorted(seed.items(), key=lambda kv: (-kv[1], kv[0]))
    vocab_counts = {ch: seed[ch] for ch in chars} | dict(ranked[:keep_n])

    def normalize(counts: dict[str, int]) -> dict[str, float]:
        total = sum(counts.values())
        return {p: math.log(c / total) for p, c in counts.items() if c > 0}

    logp = normalize(vocab_counts)
    for it in range(EM_ITERS):
        counts: Counter = Counter()
        for w, c in wc:
            for piece in viterbi_segment(w, logp, MAX_PIECE_LEN):
                counts[piece] += c
        # prune toward vocab_size: linear schedule, single chars immune
        target = max(
            vocab_size,
            int(len(logp) - (len(logp) - vocab_size) * (it + 1) / EM_ITERS),
        )
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        floor = {ch: max(counts.get(ch, 0), 1) for ch in chars}
        logp = normalize(floor | dict(ranked[:target]))
    return logp


def unigram_encode(
    df: DataFrame,
    logp: dict[str, float],
    text_col: str = "text",
    out_col: str = "tokens",
) -> DataFrame:
    """Distributed Viterbi encode (:func:`subword.encode`): pieces with
    one END sentinel token appended per word (so `bpe.bpe_decode`
    inverts both tokenizers identically).  The Viterbi window is the
    longest trained piece, so no candidate span is ever skipped.  Input
    containing END is rejected, as in `bpe.encode_word`."""
    max_len = max(map(len, logp), default=1)

    def encode_word(w: str) -> list[str]:
        if END in w:
            raise ValueError(
                f"unigram_encode: input contains the END sentinel "
                f"{END!r}; round-trip would be lossy"
            )
        return viterbi_segment(w, logp, max_len) + [END]

    return subword.encode(df, encode_word, text_col, out_col)
