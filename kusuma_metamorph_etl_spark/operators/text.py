"""[EXT] Text-analysis operators for training-data pipelines
(SURVEY.md §2.10 north-star ops): tokenization, token counting,
language ID, quality scoring, document fingerprinting.

Everything here is built-in ``pyspark.sql.functions`` column expressions —
JVM-side, codegen'd, no Python in the hot path — so each operator scales as
a plain projection (narrow, no shuffle) over arbitrarily many documents.
Formulas are written to be reproducible in ANSI SQL for the oracle
(matching operation ORDER matters for float results; see registry.py).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.plans.share import share

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Deliberately small and public-domain-obvious; real pipelines
# plug in fastText-style models via mapInPandas (multimodal.py pattern).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "los", "en", "un"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "den"),
}

# A BPE-ish pre-tokenizer: letter runs, digit runs, or single punctuation.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny valence lexicons for the lexicon-vote sentiment scorer (the
# classic distributed-sentiment shape — EDBT'16 "Large Scale Sentiment
# Analysis on Twitter with Spark" runs exactly this as its scan stage).
# Same contract as STOPWORDS: deliberately small, public-domain-obvious
# generic words; production pipelines plug a model scorer in through
# the mapInPandas seam instead of growing these lists.
POSITIVE_WORDS: tuple[str, ...] = (
    "good", "great", "excellent", "happy", "love", "best", "wonderful",
    "amazing", "positive", "success", "win", "improve", "benefit",
    "easy", "fast", "clean", "strong", "helpful", "clear", "right",
)
NEGATIVE_WORDS: tuple[str, ...] = (
    "bad", "terrible", "awful", "sad", "hate", "worst", "horrible",
    "poor", "negative", "failure", "lose", "break", "harm", "hard",
    "slow", "dirty", "weak", "useless", "wrong", "broken",
)


def words(text: Column) -> Column:
    """Whitespace tokens with empties dropped, so tabs/newlines separate
    tokens and runs collapse — mirrored in the oracle via
    ``regexp_split_to_array('\\s+')`` (queries/ext.py ``_W``).

    Two per-row paths with identical semantics: rows containing a
    non-space separator take the regex class split; the common case
    (space-only text) takes the literal single-char split, which skips
    the regex engine entirely.  Measured over the minhash pipeline at
    sf0.1: always-regex is 6.0-6.6s, the literal path 4.2s — the
    ``contains`` probes are memchr-cheap, so mostly-plain corpora keep
    literal-split speed without losing multi-line correctness.

    The class is RE2's ``\\s`` (``[\\t\\n\\f\\r ]`` — NOT Java's, which
    adds ``\\x0B``; the oracle engine is RE2-based, so vertical tab must
    not separate on either side); no quantifier — runs just produce empty
    tokens, which the filter drops anyway."""
    exotic = (
        text.contains("\t")
        | text.contains("\n")
        | text.contains("\f")
        | text.contains("\r")
    )
    toks = F.when(exotic, F.split(text, r"[ \t\n\f\r]")).otherwise(
        F.split(text, " ")
    )
    return F.filter(toks, lambda w: w != F.lit(""))


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Regex token count approximating a BPE pre-tokenizer's segment count."""
    return F.regexp_count(text, F.lit(TOKEN_REGEX))


def stopword_count(text: Column, lang: str) -> Column:
    stop = STOPWORDS[lang]
    return F.size(F.filter(words(F.lower(text)), lambda w: w.isin(*stop)))


def language_id(text: Column) -> Column:
    """Stopword-vote language ID.  Ties break in a fixed language order so
    the result is deterministic (and SQL-reproducible)."""
    counts = {lang: stopword_count(text, lang) for lang in STOPWORDS}
    en, es, fr, de = counts["en"], counts["es"], counts["fr"], counts["de"]
    return (
        F.when((en >= es) & (en >= fr) & (en >= de) & (en > 0), F.lit("en"))
        .when((es >= fr) & (es >= de) & (es > 0), F.lit("es"))
        .when((fr >= de) & (fr > 0), F.lit("fr"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("und"))
    )


def sentiment_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Lexicon-vote sentiment over whitespace tokens: per row the
    positive/negative match counts, the polarity
    ``(pos − neg) / max(pos + neg, 1)`` ∈ [−1, 1] (matched-token
    normalization — length-invariant, exactly 0 for text matching no
    valence word), and a 3-way label decided on the COUNTS, never the
    float.  Scan-speed column expressions end to end (token
    materialization first — the re-evaluation trap
    :func:`quality_features` documents); the single division ships raw
    per the cross-engine float policy."""
    toked = df.select(
        "*",
        F.transform(
            words(F.col(text_col)), lambda w: F.lower(w)
        ).alias("__lw"),
    )
    lw = F.col("__lw")
    n_pos = F.size(F.filter(lw, lambda w: w.isin(*POSITIVE_WORDS)))
    n_neg = F.size(F.filter(lw, lambda w: w.isin(*NEGATIVE_WORDS)))
    return (
        toked.withColumn("n_pos", n_pos)
        .withColumn("n_neg", n_neg)
        .withColumn(
            "polarity",
            (F.col("n_pos") - F.col("n_neg")).cast("double")
            / F.greatest(F.col("n_pos") + F.col("n_neg"), F.lit(1)),
        )
        .withColumn(
            "sentiment",
            F.when(F.col("n_pos") > F.col("n_neg"), F.lit("positive"))
            .when(F.col("n_neg") > F.col("n_pos"), F.lit("negative"))
            .otherwise(F.lit("neutral")),
        )
        .drop("__lw")
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / word-length features + a composite
    quality score in [0, 1] — the classic cheap pre-filter before expensive
    dedup/model scoring in a training-data pipeline.

    Tokens materialize in their own projection before the feature
    expressions reference them ~5 times — the same re-evaluation trap
    :func:`gopher_filter` documents with numbers (8.5s vs 0.4s at
    sf0.1 when the tokenizer is inlined per reference)."""
    text = F.col(text_col)
    toked = df.select("*", words(text).alias("__toks"))
    toks = F.col("__toks")
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_punct = F.regexp_count(text, F.lit(r"[.,!?;:]"))
    stop = STOPWORDS["en"]
    # == stopword_count(text, "en"): separators are case-invariant, so
    # lowering the materialized tokens equals tokenizing lower(text)
    n_stop = F.size(
        F.filter(
            F.transform(toks, lambda w: F.lower(w)), lambda w: w.isin(*stop)
        )
    )
    return (
        toked.withColumn("n_chars", n_chars.cast("long"))
        .withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn(
            "avg_word_len",
            F.when(
                n_tokens > 0,
                (n_chars - (n_tokens - 1)).cast("double") / n_tokens,
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "punct_ratio",
            F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "stopword_ratio",
            F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(
                F.lit(0.0)
            ),
        )
        .withColumn(
            "quality_score",
            F.round(
                0.4 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
                + 0.3 * F.col("stopword_ratio")
                + 0.3 * (1.0 - F.least(F.col("punct_ratio") * 10.0, F.lit(1.0))),
                6,
            ),
        )
        .drop("__toks")
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Shannon entropy (bits) of each document's character n-gram
    distribution — the cheap information-theoretic quality feature:
    keyboard mash and repeated boilerplate score low, natural prose sits
    in a narrow band, encrypted/compressed junk scores near the maximum.

    ``H = log2(N) − (Σ c·log2 c) / N`` over per-document gram counts, so
    one explode + two keyed aggregations — all JVM-side, shuffling
    (id, gram) pairs then (id) partials; documents shorter than ``n``
    characters produce no grams and drop from the output (declared).
    """
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.length(text_col) >= n,
                F.expr(
                    f"transform(sequence(1, length({text_col}) - {n - 1}),"
                    f" i -> substr({text_col}, i, {n}))"
                ),
            ).otherwise(F.array())
        ).alias("gram"),
    )
    counts = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    total = F.sum("c")
    return counts.groupBy(id_col).agg(
        F.round(
            F.log2(total) - F.sum(F.col("c") * F.log2("c")) / total, 6
        ).alias("entropy"),
        total.cast("long").alias("n_grams"),
    )


# PII patterns kept to portable regex (no lookaround): email addresses and
# phone-ish digit runs (≥7 chars of digits/separators, digit-bounded).
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
NUMBER_REGEX = r"[0-9(][0-9 ()\-]{5,}[0-9]"


def token_ngrams(w: Column, n: int) -> Column:
    """Word n-grams over an ALREADY-MATERIALIZED token array.  Empty array
    when the document has fewer than ``n`` tokens (guarded: Spark's
    ``sequence(1, 0)`` would count *down*, not produce an empty range).

    The input expression is embedded ``n + 2`` times — pass a cheap
    attribute reference, not the tokenizer expression, or every copy
    re-evaluates (the 18x trap documented at
    ``operators/dedup.py::token_shingles``)."""
    if n < 1:
        # fail fast: n=0 silently emitted nonsense empty-string "grams"
        # (and garbage repetition fractions downstream — r17 edge sweep)
        raise ValueError(f"token_ngrams: n must be >= 1, got {n}")
    cnt = F.size(w) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + off) for off in range(n)]
        ),
    )
    return F.when(cnt >= 1, grams).otherwise(F.array().cast("array<string>"))


def word_ngrams(text: Column, n: int) -> Column:
    """N-grams straight from a text column — single-use convenience; hot
    paths materialize tokens first and use :func:`token_ngrams`."""
    return token_ngrams(words(text), n)


def ngram_repetition(text: Column, n: int = 2) -> Column:
    """Fraction of duplicated word n-grams, the Gopher-style intra-document
    repetition signal (high value → boilerplate/spam; standard pre-training
    filter).  0.0 for documents with no n-grams."""
    grams = word_ngrams(text, n)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return F.when(
        total > 0, F.round(1.0 - distinct.cast("double") / total, 6)
    ).otherwise(F.lit(0.0))


# Typographic codepoints above the portable chr() range decoded by
# decode_numeric_refs (Spark's chr/char is mod-256, so codepoints >255
# need literal mapping): dashes, curly quotes, bullet, ellipsis, primes,
# euro, trademark, rightwards arrow — the set that dominates real pages.
_NUMREF_TYPO: tuple[int, ...] = (
    8211, 8212, 8216, 8217, 8220, 8221, 8226, 8230,
    8242, 8243, 8364, 8482, 8594,
)


def decode_numeric_refs(text: Column, amp_as: str = "&") -> Column:
    """Decode HTML NUMERIC character references (``&#39;``, ``&#x27;``,
    ``&#8217;``) — the ``&#x27;``-class decoding every real crawl
    pipeline needs before quality scoring (r8 advice; the named-entity
    half lives in :func:`html_to_text`).

    ``amp_as`` is the stand-in emitted for a decoded AMPERSAND (codes
    38/0x26).  Standalone use keeps the default ``"&"``; a caller that
    runs a NAMED-entity pass afterwards (html_to_text) must pass a
    sentinel and restore it LAST, or the numeric spelling of ``&``
    re-enters entity decoding — ``&#38;lt;`` would double-decode to
    ``<`` instead of the literal ``&lt;`` single-pass HTML semantics
    require (r9 self-review, reproduced).

    Engine-exact decode set (the oracle mirrors the same CASE):

    * codepoints 32–126 and 161–255 via ``char()`` — Spark's char/chr is
      **mod-256** (chr(8217) yields \\x19, verified), so only the
      sub-256 range decodes through it portably;
    * 160 (nbsp) → plain space, matching the ``&nbsp;`` rule;
    * the common typography set (``_NUMREF_TYPO``) via literal chars on
      the Spark side / true-unicode ``chr()`` on the DuckDB side;
    * anything else (rare codepoints, surrogates, controls) → one space,
      which the caller's whitespace collapse absorbs.

    Shape: pure column expressions — ONE marker ``regexp_replace`` pass
    (decimal|hex alternation) wraps each reference in \\x01…\\x02
    sentinels (raw \\x01/\\x02 bytes in the input are spaced out first,
    so the sentinels are unambiguous), one split on \\x01, one
    ``transform`` decoding the marked prefix of each segment via
    locate/substring (no per-segment regex), one ``array_join``.  No
    UDF, no shuffle — still a narrow projection.

    Fast path (the mart_crawl_prep 1.64× regression fix, r9 verdict):
    documents with no ``&#`` and no raw sentinel bytes take an identity
    branch behind three ``instr`` probes — the regex scan, split, and
    array machinery never run for the overwhelmingly common ref-free
    document.  The gate condition is EXACTLY the set of inputs the full
    pipeline is non-identity on (marking needs ``&#``; the spacing pass
    needs a raw \\x01/\\x02), so semantics are byte-identical.
    """
    t = F.regexp_replace(text, "[\x01\x02]", " ")
    t = F.regexp_replace(
        t, "&#([0-9]{1,7}|[xX][0-9a-fA-F]{1,6});", "\x01$1\x02"
    )

    def _decode(p: Column) -> Column:
        # marking guarantees any \x02 in a segment terminates a
        # well-formed ref body (raw sentinel bytes were spaced out), so
        # plain string ops replace the per-segment regexes
        mark = F.locate("\x02", p)
        pre = F.substring(p, F.lit(1), mark - 1)
        first = F.substring(pre, F.lit(1), F.lit(1))
        code = F.when(
            mark > 0,
            F.when(
                (first == "x") | (first == "X"),
                F.conv(F.substring(pre, F.lit(2), F.lit(6)), 16, 10),
            )
            .otherwise(pre)
            .cast("bigint"),
        )
        ch = F.when(code == 38, F.lit(amp_as)).when(code == 160, F.lit(" "))
        for cp in _NUMREF_TYPO:
            ch = ch.when(code == cp, F.lit(chr(cp)))
        ch = ch.when(
            ((code >= 32) & (code <= 126))
            | ((code >= 161) & (code <= 255)),
            F.char(code),
        ).otherwise(F.lit(" "))
        rest = F.substring(p, mark + 1, F.length(p))
        return F.when(code.isNotNull(), F.concat(ch, rest)).otherwise(p)

    decoded = F.array_join(F.transform(F.split(t, "\x01"), _decode), "")
    needs = (
        (F.instr(text, "&#") > 0)
        | (F.instr(text, "\x01") > 0)
        | (F.instr(text, "\x02") > 0)
    )
    return F.when(needs, decoded).otherwise(text)


def html_to_text(html: Column, decode_numeric: bool = True) -> Column:
    """Strip HTML to whitespace-normalized text — the step between a
    crawl source (WARC payloads) and every text operator downstream
    (quality, language ID, dedup): feeding raw markup to those measures
    tags, not prose.

    Deterministic regexp chain, portable across Java regex and RE2 (the
    oracle engine): drop ``<script>``/``<style>`` blocks WITH their
    contents (``(?is)`` + non-greedy, both supported in RE2 — no
    lookaround used) and HTML comments; every remaining tag becomes a
    space (block/inline distinction is deliberately ignored — the
    whitespace collapse at the end makes it moot for the downstream
    token-level signals); the half-dozen entities that dominate real
    pages decode (``&amp;`` LAST, so ``&amp;lt;`` yields the literal
    ``&lt;`` instead of double-decoding); whitespace runs collapse to
    one space and the result is trimmed.

    Numeric character references (``&#39;``/``&#x27;``/``&#8217;``)
    decode via :func:`decode_numeric_refs` (default on; ``decode_numeric
    =False`` keeps the r8 minimal chain).  The numeric pass runs BEFORE
    the named-entity replaces for the same reason ``&amp;`` decodes
    last: ``&amp;#39;`` must yield the literal ``&#39;``, not a quote —
    the numeric pattern needs a raw ``&#`` and must not see the one the
    ``&amp;`` decode manufactures.

    Declared scope: this is the cheap scan-speed path for token-level
    pipelines, not a DOM renderer — ``<pre>`` fidelity and table
    structure are the seam where a real extractor (trafilatura-class)
    plugs in via mapInPandas; :func:`main_content` supplies the
    boilerplate-suppression half of that extractor.
    """
    t = F.regexp_replace(html, r"(?is)<script\b.*?</script\s*>", " ")
    t = F.regexp_replace(t, r"(?is)<style\b.*?</style\s*>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    if decode_numeric:
        # decoded ampersands surface as \x02, NOT '&': a raw '&' here
        # would re-enter the named-entity pass below and double-decode
        # ('&#38;lt;' must stay the literal '&lt;' — r9 self-review).
        # \x02 is unambiguous: decode_numeric_refs spaces out raw
        # \x01/\x02 bytes before marking.
        t = decode_numeric_refs(t, amp_as="\x02")
    # the literal replaces stay UNgated: a conditional here repeats the
    # whole upstream tree in condition + both branches, and measured
    # 2× SLOWER than the scans it saves (codegen blowup) — only the
    # numeric decode, whose array machinery is genuinely heavy, carries
    # an identity fast path (inside decode_numeric_refs)
    for ent, ch in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),  # LAST: &amp;lt; must become &lt;, not <
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    if decode_numeric:
        t = F.replace(t, F.lit("\x02"), F.lit("&"))  # after &amp;, like it
    # explicit class, not \s: Java's \s includes \x0B, RE2's does not
    # (the words() rule) — the collapse must act on the SAME set both
    # engines or text_clean diverges from the oracle on a vertical tab
    return F.trim(F.regexp_replace(t, r"[ \t\n\f\r]+", " "))


# Block-level boundaries for main_content's segmentation: opening OR
# closing forms of the standard block elements plus <br>/<hr>.  Case
# folded with (?i); RE2-safe (no lookaround).
_BLOCK_TAG_SPLIT = (
    r"(?i)</?(?:p|div|section|article|li|ul|ol|dl|dt|dd|table|thead|tbody"
    r"|tfoot|tr|td|th|h[1-6]|blockquote|header|footer|nav|aside|main|form"
    r"|figure|figcaption|body|html|br|hr)\b[^>]*>"
)


def main_content(
    html: Column,
    max_link_density: float = 0.5,
    min_text_chars: int = 25,
) -> Column:
    """Boilerplate-block suppression — the main-content heuristic every
    crawl pipeline applies before quality scoring (r8 advice; the
    trafilatura-class move re-expressed as column expressions): split
    the page into block-level segments, keep only blocks whose visible
    text is long enough AND not link-dominated, return the surviving
    HTML for :func:`html_to_text`.

    Per block (pure expressions, both engine-portable):

    * ``text_len``   — visible chars after tag-strip + whitespace squash;
    * ``link_len``   — ``text_len`` minus the same measure with
      ``<a>…</a>`` elements removed (anchor text + its joining space, a
      standard over-count the threshold absorbs);
    * keep iff ``text_len >= min_text_chars`` and ``link_len <=
      max_link_density * text_len`` (exact: int→double is lossless, so
      both engines agree on the comparison).

    Navigation bars, footers, tag clouds, and "related articles" rails
    are exactly the high-link-density short blocks this drops.  Script/
    style/comment blocks strip FIRST so their contents cannot fake block
    boundaries.  Heuristic seam, documented: a ``<div>``-lookalike
    inside a CDATA island or an unclosed ``<a`` spanning blocks
    mis-segments — the DOM-fidelity cases stay with the mapInPandas
    extractor seam named in :func:`html_to_text`.
    """
    t = F.regexp_replace(html, r"(?is)<script\b.*?</script\s*>", " ")
    t = F.regexp_replace(t, r"(?is)<style\b.*?</style\s*>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    blocks = F.split(t, _BLOCK_TAG_SPLIT)

    def _vis_len(b: Column) -> Column:
        return F.length(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(b, r"(?s)<[^>]*>", " "),
                    r"[ \t\n\f\r]+",
                    " ",
                )
            )
        )

    def _keep(b: Column) -> Column:
        text_len = _vis_len(b)
        nolink_len = _vis_len(
            F.regexp_replace(b, r"(?is)<a\b[^>]*>.*?</a\s*>", " ")
        )
        link_len = text_len - nolink_len
        return (text_len >= min_text_chars) & (
            link_len.cast("double")
            <= F.lit(float(max_link_density)) * text_len.cast("double")
        )

    return F.array_join(F.filter(blocks, _keep), " ")


def extract_main_text(
    html: Column,
    max_link_density: float = 0.5,
    min_text_chars: int = 25,
) -> Column:
    """:func:`main_content` composed with :func:`html_to_text` — raw
    page bytes to boilerplate-suppressed, entity-decoded, whitespace-
    normalized prose in one narrow projection."""
    return html_to_text(main_content(html, max_link_density, min_text_chars))


def normalize_url(url: Column, sort_params: bool = False) -> Column:
    """Canonicalize a URL for crawl dedup — URL-keyed exact dedup is the
    FIRST dedup pass of every web-scale corpus pipeline, and raw URLs
    split the same page across case, tracking-param, default-port, and
    fragment variants.

    Deterministic regexp chain, each step expressible identically in
    Java regex (Spark) and RE2 (the oracle engine — no lookaheads used):
    trim; drop the ``#fragment``; lowercase scheme+host (extract the
    authority prefix, lower it, re-attach the untouched path — path case
    is significant); strip default ``:80``/``:443`` ports; remove
    ``utm_*``/``gclid``/``fbclid`` tracking params (mid-query with their
    trailing ``&``, then a trailing one with its leading ``?``/``&``);
    collapse trailing ``?``/``&``/slash junk in one class (sequential
    passes broke idempotence on tails like ``?/``).

    ``sort_params=True`` adds the declared tokenize-sort pass (r8 advice
    — the same page with reordered params otherwise splits the URL
    dedup key): the query string splits on ``&``, empty segments drop
    (``a?&&b=1`` artifacts), segments sort bytewise (Spark's binary
    string ordering == DuckDB's default binary collation, so engines
    agree), and rejoin.  Sorting whole ``k=v`` segments keeps duplicate
    keys (``a=1&a=2``) intact and is idempotent by construction.
    Default OFF so the plain branch of `txt_url_normalize_family` stays
    byte-stable; its 'sorted' branch registers this form.

    Still out of scope (the tokenizer-not-regexp seam): percent-decoding
    and IDN/punycode.
    """
    u = F.trim(url)
    u = F.regexp_replace(u, r"#.*$", "")
    head = F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    tail = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    u = F.concat(F.lower(head), tail)
    # one anchored alternation covers both default ports (an unmatched
    # capture substitutes as empty in Java's replaceAll, so $1$2 and
    # $3$4 compose into one template) — two scans fused into one
    u = F.regexp_replace(
        u,
        r"^(?:(http://[^/:?#]+):80|(https://[^/:?#]+):443)([/?#]|$)",
        "$1$2$3",
    )
    # Anchored to the [?&] delimiter and matching the whole RUN of
    # consecutive tracking params in one go: the unanchored form matched
    # INSIDE longer names and values ('?xgclid=1&a=2' lost legitimate
    # params — r8 self-review, confirmed by repro), and a non-run-aware
    # anchored form left every second param of a run behind (the
    # delimiter is consumed by the previous match).
    trk = r"(?:utm_[^=&]*|gclid|fbclid)"
    u = F.regexp_replace(u, r"([?&])(?:" + trk + r"=[^&]*&)+", "$1")
    u = F.regexp_replace(u, r"[?&](?:" + trk + r"=[^&]*&?)+$", "")
    # ONE trailing-junk class, not sequential ?&-then-/ passes: a tail
    # like "?/" stripped the slash first and left the "?" for a SECOND
    # normalize to remove — hypothesis found the idempotence break.
    # Whitespace rides in the SAME class (explicit chars, not \s —
    # Java's \s includes \x0B, RE2's does not): stripping "&" off
    # "x &" exposed a trailing space the leading trim had already
    # passed, the second idempotence break hypothesis found (r9).
    u = F.regexp_replace(u, r"[?&/ \t\n\f\r]+$", "")
    if not sort_params:
        return u
    base = F.regexp_extract(u, r"^([^?]*)", 1)
    query = F.regexp_extract(u, r"^[^?]*\?(.*)$", 1)
    params = F.filter(F.split(query, "&"), lambda p: p != F.lit(""))
    sorted_q = F.array_join(F.array_sort(params), "&")
    # a query of ONLY empty segments ("a?&&") was already junk-stripped
    # above, so query != "" implies at least one surviving param
    return F.when(query == "", u).otherwise(
        F.concat(base, F.lit("?"), sorted_q)
    )


# Two-level public suffixes the registrable-domain heuristic recognizes
# (the high-traffic entries of the public-suffix list; the FULL list is
# a data file, not an algorithm — swap this tuple for a broadcast lookup
# against the published list when curating real crawls).
_TWO_LEVEL_SUFFIXES: tuple[str, ...] = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "org.au", "net.au",
    "co.jp", "co.in", "co.nz", "co.kr", "co.za",
    "com.br", "com.cn", "com.mx", "com.tr",
)


def registrable_domain(url: Column) -> Column:
    """Registrable domain (eTLD+1) of a URL — the C4/RefinedWeb unit of
    crawl curation: quality thresholds, dup-rate gates, and blocklists
    all apply at domain grain, not page grain.

    Deterministic regexp chain (Java regex == RE2, no lookaheads):
    extract the host from the authority (userinfo and port stripped),
    then keep the last TWO labels — or the last THREE when the host ends
    in a recognized two-level public suffix (``co.uk`` &c., see
    ``_TWO_LEVEL_SUFFIXES``).  A bare host (no dots, e.g. ``localhost``)
    passes through unchanged.  Address literals are NOT domains and pass
    through whole (r16 ADVICE): a bracketed IPv6 authority
    (``[2001:db8::1]``) is extracted before the generic host regex
    (whose ``[^:]`` port stop would truncate it), and any host whose
    LAST label is all digits (an IPv4 literal — no real TLD is numeric)
    skips the label-suffix logic that would have clipped ``1.2.3.4`` to
    ``3.4``.  A host that IS a bare public suffix (``co.uk``) also
    passes through unchanged (the last-two-labels rule returns the host
    itself — there is no +1 label to keep).  Feed it
    :func:`normalize_url` output so case/port variants are already
    collapsed."""
    bracket = F.regexp_extract(
        url, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?(\[[^\]]*\])", 1
    )
    host = F.regexp_extract(
        url, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1
    )
    ipv4_tail = F.regexp_extract(host, r"\.([0-9]+)$", 1)
    suffix_alt = "|".join(s.replace(".", r"\.") for s in _TWO_LEVEL_SUFFIXES)
    three = F.regexp_extract(host, r"([^.]+\.(?:" + suffix_alt + r"))$", 1)
    two = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    return (
        F.when(bracket != "", bracket)
        .when(ipv4_tail != "", host)
        .when(three != "", three)
        .when(two != "", two)
        .otherwise(host)
    )


def domain_stats(
    df: DataFrame,
    domain_col: str = "domain",
    url_col: str = "url_norm",
    quality_col: str | None = "quality_score",
) -> DataFrame:
    """Per-domain crawl rollup: ``(domain, n_docs, n_urls, dup_rate,
    mean_quality)`` — ONE keyed aggregate (count / exact distinct-URL /
    avg all map-side-combinable on the domain key).  ``dup_rate`` is the
    fraction of docs whose canonical URL is a repeat within the domain
    (``1 - n_urls/n_docs``), the signal that flags mirror/boilerplate
    farms.  ``mean_quality`` is an ORDER-INDEPENDENT 6-dp decimal
    average (``numeric.decimal_avg`` — r16 ADVICE: a plain float avg's
    last ulp depends on partition order, so a mean sitting on the
    curation floor could flip between partitionings/engines; oracle
    mirror ``round(CAST(sum(CAST(q AS DECIMAL(38,6))) AS DOUBLE) /
    count(q), 6)``).  Domain cardinality is tiny relative to docs at any
    corpus size, so the output is broadcastable by construction."""
    from kusuma_metamorph_etl_spark.functions.numeric import decimal_avg

    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(url_col).alias("n_urls"),
    ]
    if quality_col is not None:
        aggs.append(
            decimal_avg(F.col(quality_col), scale=6).alias("mean_quality")
        )
    stats = df.groupBy(domain_col).agg(*aggs)
    return stats.withColumn(
        "dup_rate",
        1.0 - F.col("n_urls").cast("double") / F.col("n_docs"),
    )


def curate_domains(
    df: DataFrame,
    domain_col: str = "domain",
    url_col: str = "url_norm",
    quality_col: str | None = "quality_score",
    max_dup_rate: float = 0.3,
    min_mean_quality: float | None = None,
    blocklist: list[str] | None = None,
) -> DataFrame:
    """Domain-grain curation filter: compute :func:`domain_stats`, keep
    domains passing the dup-rate ceiling / mean-quality floor /
    blocklist, and semi-join the surviving domain list back onto the
    docs.  The kept-domain frame is broadcast — at 100 TB the doc side
    never shuffles for this filter."""
    from pyspark.sql.functions import broadcast

    stats = domain_stats(df, domain_col, url_col, quality_col)
    kept = stats.filter(F.col("dup_rate") <= max_dup_rate)
    if min_mean_quality is not None and quality_col is not None:
        kept = kept.filter(F.col("mean_quality") >= min_mean_quality)
    if blocklist:
        kept = kept.filter(~F.col(domain_col).isin(*blocklist))
    return df.join(
        broadcast(kept.select(domain_col)), on=domain_col, how="left_semi"
    )


def readability(text: Column) -> Column:
    """Flesch–Kincaid grade level — the readability quality signal corpus
    curation pipelines filter/stratify on (edu-quality classifiers are
    seeded from exactly this kind of cheap signal):

        0.39·(words/sentences) + 11.8·(syllables/words) − 15.59

    Three regexp counts + scalar arithmetic, fully vectorized and
    ENGINE-EXACT: syllables ≈ vowel groups, and a vowel group can never
    span a word boundary (the boundary is whitespace, a non-vowel), so
    one ``[aeiouy]+`` count over the whole lowercased text equals the
    per-word sum — no explode, no lambda, same expression in ANSI SQL.
    Sentences floor at 1 (fragments are one sentence); documents with no
    words yield NULL (readability of nothing is undefined, and the
    division would fault under ANSI).  The operation ORDER in the final
    expression is part of the contract — both engines evaluate the same
    IEEE ops on the same two deterministic ratios.
    """
    n_words = F.size(words(text))
    n_sentences = F.greatest(F.regexp_count(text, F.lit(r"[.!?]+")), F.lit(1))
    n_syllables = F.regexp_count(F.lower(text), F.lit("[aeiouy]+"))
    return F.when(
        n_words > 0,
        F.round(
            F.lit(0.39) * (n_words.cast("double") / n_sentences)
            + F.lit(11.8) * (n_syllables.cast("double") / n_words)
            - F.lit(15.59),
            6,
        ),
    )


def scrub_pii(text: Column) -> Column:
    """Replace emails then phone-ish digit runs with typed placeholders.
    Both patterns are portable across Java regex and RE2 so the exact same
    scrub is reproducible in ANSI-SQL engines."""
    no_email = F.regexp_replace(text, EMAIL_REGEX, "<EMAIL>")
    return F.regexp_replace(no_email, NUMBER_REGEX, "<NUM>")


def tf_idf(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-(document, term) TF-IDF over lowercase whitespace tokens.

    Classic corpus-statistics operator for training-data curation (rare-term
    weighting, boilerplate detection).  Shuffle profile at scale: one
    explode (narrow) + groupBy(doc, term) with map-side partial counts, one
    groupBy(term) for document frequency, one shuffle join on ``term``, and
    the corpus size joined as a broadcast single-row frame — no driver-side
    action anywhere.  idf = ln((N + 1) / (df + 1)) (smoothed).
    """
    tok = df.select(F.col(id_col), F.explode(words(F.lower(F.col(text_col)))).alias("term"))
    # One tokenize+count pass: document frequency ROLLS UP from the
    # (doc, term, tf) frame, and without sharing the explode+groupBy
    # pipeline ran once for the join side and once under the rollup
    # (r18 before-plan of txt_tfidf: 3 document scans, 2 under their own
    # explode).
    tf = share(tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.countDistinct(id_col).alias("n_docs"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into overlapping ``window``-token chunks every
    ``stride`` tokens — the standard context-length pre-processing step for
    LLM training data.  Pure JVM expressions (split → sequence → explode →
    slice → array_join): a narrow fan-out, no shuffle, so it scales as a
    projection.  Chunk count = 1 if n ≤ window else ceil((n-window)/stride)+1
    (the last chunk may be short; every token lands in ≥1 chunk)."""
    if window < 1 or stride < 1:
        # fail fast: stride 0 otherwise dies mid-execution with a cryptic
        # ANSI DIVIDE_BY_ZERO, a negative stride walks backwards emitting
        # negative chunk indices, and window 0 emits empty chunks
        # (r17 edge sweep)
        raise ValueError(
            f"chunk_tokens: window and stride must be >= 1, got "
            f"window={window}, stride={stride}"
        )
    w = words(F.col(text_col))
    n = F.size(w)
    n_chunks = F.when(n <= window, F.lit(1)).otherwise(
        F.ceil((n - window) / F.lit(float(stride))) + 1
    )
    out = df.select(
        F.col(id_col),
        w.alias("__w"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    piece = F.slice(F.col("__w"), F.col("chunk_idx") * stride + 1, window)
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def split_sentences(text: Column) -> Column:
    """Sentence array from prose: a terminator (. ! ?) followed by
    whitespace ends a sentence.  RE2-portable (no lookbehind — the
    terminator is REPLACED with itself + a \\x01 marker, then one split;
    raw \\x01 bytes are spaced out first so the marker is unambiguous),
    so the oracle expresses the identical rule.  Abbreviation handling
    ("Dr. Smith") is the model-based seam real segmenters plug in; the
    regexp rule is the scan-speed default corpus chunkers use."""
    t = F.regexp_replace(text, "\x01", " ")
    t = F.regexp_replace(t, "([.!?])[ \t\n\f\r]+", "$1\x01")
    return F.filter(F.split(t, "\x01"), lambda s: F.trim(s) != "")


def chunk_sentences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_sentences: int = 5,
    overlap: int = 1,
) -> DataFrame:
    """Sentence-AWARE chunking with overlap: windows of ``n_sentences``
    sentences advancing by ``n_sentences − overlap`` — the RAG/embedding
    pre-processing twin of :func:`chunk_tokens` (token windows cut
    mid-sentence; embedding quality wants boundary-aligned chunks).

    Same scale shape as `chunk_tokens`: split → sequence → explode →
    slice → join, a narrow fan-out with no shuffle.  Window starts run
    1, 1+step, … while start ≤ max(n − overlap, 1), which keeps every
    sentence covered and drops a tail window that would be a pure
    subset of its predecessor.
    """
    if not 0 <= overlap < n_sentences:
        raise ValueError(
            f"need 0 <= overlap < n_sentences, got {overlap}/{n_sentences}"
        )
    step = n_sentences - overlap
    sents = split_sentences(F.col(text_col))
    n = F.size(sents)
    last_start = F.greatest(n - overlap, F.lit(1))
    out = df.select(
        F.col(id_col),
        sents.alias("__s"),
        F.posexplode(
            F.sequence(F.lit(1), last_start, F.lit(step))
        ).alias("chunk_idx", "__start"),
    )
    piece = F.slice(F.col("__s"), F.col("__start"), n_sentences)
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(piece).cast("long").alias("n_sentences"),
        F.array_join(piece, " ").alias("chunk_text"),
    ).filter(F.col("chunk_text") != "")


def fingerprint(text: Column) -> Column:
    """Full-content md5 fingerprint (cross-engine-stable; exact-dup key)."""
    return F.md5(text)


def sketch_fingerprint(text: Column, probe: int = 64) -> Column:
    """Cheap locality sketch: md5 over (length, head, middle, tail) probes.
    At 100 TB this avoids hashing multi-MB documents end-to-end while still
    keying exact dups with overwhelming probability."""
    n = F.length(text)
    head = F.substring(text, 1, probe)
    middle = F.substr(text, (n / 2).cast("int") + 1, F.lit(probe))
    tail = F.substr(text, F.greatest(n - probe + 1, F.lit(1)), F.lit(probe))
    return F.md5(F.concat_ws("|", n.cast("string"), head, middle, tail))


def rolling_fingerprint(text: Column, window: int = 32, stride: int = 7) -> Column:
    """Rolling-hash document fingerprint (winnowing-style): minimum md5
    over ``window``-char substrings sampled every ``stride`` chars.

    Unlike the full-content hash, this survives content *movement*: a
    document that gains a prefix keeps most of its windows, so the min
    usually survives (classic k-gram winnowing).  Whole expression is
    JVM-side: sequence → transform(substring → md5) → array_min.
    """
    last = F.greatest(F.length(text) - (window - 1), F.lit(1))
    positions = F.sequence(F.lit(1), last, F.lit(stride))
    return F.array_min(
        F.transform(positions, lambda i: F.md5(F.substr(text, i, F.lit(window))))
    )


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    min_avg_word_len: float = 2.0,
    max_avg_word_len: float = 12.0,
    max_symbol_ratio: float = 0.12,
    min_stopword_ratio: float = 0.02,
    max_repetition: float = 0.6,
) -> DataFrame:
    """Gopher-style rule-based document filter: compose the cheap text
    signals into a keep/drop verdict with the FIRST failing rule named.

    The published heritage is the Gopher/MassiveText quality heuristics
    (token-count window, mean-word-length window, symbol ratio, stopword
    presence, duplicate-n-gram fraction); thresholds are knobs because
    every corpus tunes them.  Narrow (no shuffle, no Python) so it runs
    at scan speed in front of expensive dedup/model scoring.  Adds
    ``keep`` (boolean) and ``reject_reason`` (null when kept); callers
    filter or route on them.

    Tokens materialize in their own projection: the rule expressions
    reference them ~10 times, and inlining the tokenizer per reference
    measured 8.5s vs 0.4s for the sweep at sf0.1 (the
    ``token_shingles`` trap).
    """
    text = F.col(text_col)
    toked = df.select("*", words(text).alias("__toks"))
    toks = F.col("__toks")

    n_chars = F.length(text)
    n_tokens = F.size(toks)
    avg_wl = F.when(
        n_tokens > 0, (n_chars - (n_tokens - 1)).cast("double") / n_tokens
    ).otherwise(F.lit(0.0))
    n_symbols = F.regexp_count(text, F.lit(r"[#@<>{}\[\]\\|~^]"))
    symbol_ratio = F.when(
        n_chars > 0, n_symbols.cast("double") / n_chars
    ).otherwise(F.lit(0.0))
    stop = STOPWORDS["en"]
    n_stop = F.size(
        F.filter(
            F.transform(toks, lambda w: F.lower(w)), lambda w: w.isin(*stop)
        )
    )
    stop_ratio = F.when(
        n_tokens > 0, n_stop.cast("double") / n_tokens
    ).otherwise(F.lit(0.0))
    grams = token_ngrams(toks, 2)
    total = F.size(grams)
    rep = F.when(
        total > 0,
        F.round(1.0 - F.size(F.array_distinct(grams)).cast("double") / total, 6),
    ).otherwise(F.lit(0.0))

    # NULL text is rejected explicitly: without the guard Spark's
    # size(null)=-1 would route it to too_few_tokens while a SQL CASE over
    # NULL comparisons would keep it — pin the semantics instead.
    reason = (
        F.when(text.isNull(), F.lit("null_text"))
        .when(n_tokens < min_tokens, F.lit("too_few_tokens"))
        .when(n_tokens > max_tokens, F.lit("too_many_tokens"))
        .when(avg_wl < min_avg_word_len, F.lit("avg_word_len_low"))
        .when(avg_wl > max_avg_word_len, F.lit("avg_word_len_high"))
        .when(symbol_ratio > max_symbol_ratio, F.lit("symbol_ratio_high"))
        .when(stop_ratio < min_stopword_ratio, F.lit("stopword_ratio_low"))
        .when(rep > max_repetition, F.lit("repetition_high"))
    )
    return (
        toked.withColumn("reject_reason", reason)
        .withColumn("keep", F.col("reject_reason").isNull())
        .drop("__toks")
    )


def keywords(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the document-tagging /
    index-term primitive built on :func:`tf_idf`.

    Ranking is on the ROUNDED tfidf (6 dp, what `tf_idf` emits) with the
    term as deterministic tie-break, so the result is engine- and
    partitioning-independent.  Plan: tf_idf's shuffles + one per-doc
    window (partition = document, rows = distinct terms of that doc —
    document-bounded, never corpus-bounded).
    """
    from pyspark.sql import Window

    scored = tf_idf(df, id_col, text_col)
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def bigram_lm_scores(
    df: DataFrame,
    train_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document bigram language-model score — the perplexity-filter
    primitive of LLM corpus curation (CCNet-style: score each document
    against a reference LM; unusually high bits/token means junk,
    unusually low means boilerplate).  Returns
    ``(id, n_bigrams, bits_per_bigram)`` where bits is the negative mean
    log2 of add-one-smoothed bigram probabilities
    ``P(w2|w1) = (C(w1,w2)+1) / (C(w1)+V)``; documents with < 2 tokens
    score NULL.

    ``train_df`` defaults to ``df`` (self-scoring ranks within a corpus);
    pass the reference corpus for true held-out filtering.  ``C(w1)`` is
    the bigram-LEFT count, so probabilities normalize over seen contexts.

    Determinism contract: each bigram's log2 is rounded to 9 dp and the
    per-doc mean runs over exact DECIMAL sums — the log-sum is
    order-independent, so engines and partitionings agree exactly.

    Scale shape: bigram extraction is a narrow zip+explode; the model is
    two keyed counts; scoring is one shuffle join on (w1, w2) + one
    doc-keyed aggregation.  Nothing is corpus-bounded per task.
    """
    from pyspark.sql import DataFrame as _DF  # noqa: F401

    def bigrams(frame: DataFrame) -> DataFrame:
        w = words(F.lower(F.col(text_col)))
        return (
            frame.select(F.col(id_col), w.alias("__w"))
            .filter(F.size("__w") >= 2)
            .select(
                id_col,
                F.explode(
                    F.arrays_zip(
                        F.slice("__w", 1, F.size("__w") - 1).alias("w1"),
                        F.slice("__w", 2, F.size("__w") - 1).alias("w2"),
                    )
                ).alias("b"),
            )
            .select(id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        )

    # Tokenize once (guide §2.2): the bigram table feeds FOUR consumers
    # (bigram counts, left-context counts, both vocab-union legs) plus
    # the scoring side when self-scoring — without sharing, Catalyst
    # re-ran the zip+explode tokenize pipeline per consumer (r18
    # before-plan of txt_perplexity: 5 document scans, each under its
    # own Generate).  The oracle SQL declares the same shape
    # (`big AS MATERIALIZED`).
    train = share(bigrams(train_df if train_df is not None else df))
    c2 = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = train.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        train.select(F.col("w1").alias("t"))
        .union(train.select(F.col("w2").alias("t")))
        .agg(F.countDistinct("t").alias("v"))
    )
    scored = (
        (train if train_df is None else bigrams(df))
        .join(c2, on=["w1", "w2"], how="left")
        .join(c1, on="w1", how="left")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            F.round(
                F.log2(
                    (F.coalesce("c2", F.lit(0)) + 1.0)
                    / (F.coalesce("c1", F.lit(0)) + F.col("v"))
                ),
                9,
            )
            .cast("decimal(38,9)")
            .alias("__lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            (-F.sum("__lp").cast("double")) / F.count(F.lit(1)), 6
        ).alias("bits_per_bigram"),
    )


def nfkc_fold(text: Column) -> Column:
    """Unicode NFKC compatibility folding as an Arrow-batched Pandas UDF
    (full-width ｆｏｒｍｓ → ASCII, ligatures ﬁ→fi, ideographic space →
    space, compatibility digits → digits).  Python because the JVM has
    no NFKC builtin; Arrow batching keeps it off the per-row-UDF slow
    path.  NULLs pass through."""

    @F.pandas_udf("string")
    def _nfkc(s):  # pd.Series -> pd.Series
        import unicodedata

        return s.map(
            lambda v: unicodedata.normalize("NFKC", v) if v is not None else None
        )

    return _nfkc(text)


def normalize_for_dedup(text: Column, *, nfkc: bool = False) -> Column:
    """Canonical text form for normalized exact dedup — the standard
    pre-hash normalization of web-corpus pipelines (casefold, strip
    punctuation, collapse whitespace): two documents differing only in
    case, punctuation, or spacing hash identically.

    Default path is a pure JVM expression chain (lower → punctuation
    strip → whitespace collapse → trim), mirrored 1:1 in the DuckDB
    oracle.  ``nfkc=True`` prepends Unicode NFKC compatibility folding
    (`nfkc_fold`) for corpora carrying full-width/ligature forms — off
    by default because DuckDB has no NFKC builtin, so the NFKC path is
    `_err`-gated (planted full-width/ligature copies must collapse)
    instead of SQL-oracled.
    """
    if nfkc:
        text = nfkc_fold(text)
    stripped = F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(stripped, r"\s+", " "))


def build_inverted_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> None:
    """Persist an inverted text index: DISTINCT ``(token, doc_id)``
    postings written ``partitionBy(bucket)`` with
    ``bucket = xxhash64(token) mod n_buckets`` — the "index once, query
    many" layout where a term lookup reads ONLY its bucket's files
    (partition pruning, same layout idea as the persisted IVF index in
    `operators/similarity.py::write_ivf_index`).

    Build is one explode + distinct (the posting-list shuffle, paid at
    index time, not per query).  ``n_buckets`` bounds per-directory file
    counts; within a bucket the postings stay token-sorted by the
    shuffle, so parquet row-group stats prune further on exact token.
    """
    postings = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(words(F.col(text_col))).alias("token"),
        )
        .distinct()
        .withColumn(
            "bucket", F.pmod(F.xxhash64("token"), F.lit(n_buckets)).cast("int")
        )
    )
    postings.write.mode("overwrite").partitionBy("bucket").parquet(path)


def search_all_terms(
    spark,
    path: str,
    terms: list[str],
    n_buckets: int = 64,
) -> DataFrame:
    """AND-query against a :func:`build_inverted_index` layout: doc ids
    containing ALL of ``terms``.

    The term list maps to its buckets with the SAME ``xxhash64``
    expression as the build (computed JVM-side over the tiny term frame,
    one bounded len(terms) collect — build/search hashing cannot drift),
    so the scan partition-prunes to ≤ len(terms) buckets no matter how
    large the corpus.  Inside the pruned read: a broadcast semi-join on
    exact token, then one doc-keyed distinct-count == n_terms — posting-
    list-sized work end to end; the corpus itself is never touched at
    query time.
    """
    if not terms:
        raise ValueError("search_all_terms: empty term list")
    tdf = spark.createDataFrame(
        [(t,) for t in set(terms)], ["token"]
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("token"), F.lit(n_buckets)).cast("int")
    )
    buckets = [r["bucket"] for r in tdf.collect()]  # bounded: len(terms)
    idx = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
    hits = idx.join(F.broadcast(tdf.select("token")), on="token", how="left_semi")
    n_terms = len(set(terms))
    return (
        hits.groupBy("doc_id")
        .agg(F.countDistinct("token").alias("__n"))
        .filter(F.col("__n") == n_terms)
        .select("doc_id")
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Corpus collocations: adjacent-word bigrams scored by pointwise
    mutual information — ``(w1, w2, n_pair, pmi)`` for bigrams seen at
    least ``min_count`` times (phrase-mining: high-PMI pairs are the
    multiword units a tokenizer or stopword list should treat as one).

    ``pmi = log2( (c(ab)/N) / ((c(a)/U) · (c(b)/U)) )`` with N = total
    bigram tokens, U = total unigram tokens (the declared estimator —
    unigram probabilities from the unigram distribution, joint from the
    bigram distribution).  Tokens are lowercased `words`.

    Plan: one scan explodes bigrams and unigrams (narrow); pair and word
    counts are two keyed aggregations; per-word counts join back on the
    word key; the two corpus totals ride as broadcast single-row frames
    (the `tf_idf` pattern — never a driver action).  Determinism: the
    PMI expression is division-first with explicit double casts — the
    same IEEE operation tree both engines evaluate identically — and
    the final value rounds to 6 dp to absorb libm log2 ulps.
    """
    toks = words(F.lower(F.col(text_col)))
    docs = df.select(toks.alias("__t")).filter(F.size("__t") >= 2)
    bigrams = docs.select(
        F.explode(
            F.arrays_zip(
                F.slice("__t", 1, F.size("__t") - 1),
                F.slice("__t", 2, F.size("__t") - 1),
            )
        ).alias("bg")
    ).select(F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))
    pair_counts = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    uni = df.select(F.explode(toks).alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("n_w")
    )
    n_big = pair_counts.agg(F.sum("n_pair").alias("__nb"))
    n_uni = uni.agg(F.sum("n_w").alias("__nu"))
    scored = (
        pair_counts.filter(F.col("n_pair") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("__ca")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("__cb")), "w2")
        .crossJoin(F.broadcast(n_big))
        .crossJoin(F.broadcast(n_uni))
    )
    pmi = F.log2(
        (F.col("n_pair").cast("double") / F.col("__nb").cast("double"))
        / (
            (F.col("__ca").cast("double") / F.col("__nu").cast("double"))
            * (F.col("__cb").cast("double") / F.col("__nu").cast("double"))
        )
    )
    return scored.select("w1", "w2", "n_pair", F.round(pmi, 6).alias("pmi"))


def fix_mojibake(
    df: DataFrame, text_col: str = "text", out_col: str = "fixed"
) -> DataFrame:
    """Repair UTF-8-as-Latin-1 mojibake ("café" → "cafÃ©" corruption —
    the single most common web-crawl encoding damage): re-encode the
    string as Latin-1 and re-decode as UTF-8, keeping the repair ONLY
    when that round-trip succeeds (the ftfy core heuristic).

    Safety of the rule, declared: pure-ASCII text round-trips to itself
    (no-op); LEGITIMATE non-ASCII text (a real "é") encodes to a byte
    that is invalid UTF-8 on its own, so the decode fails and the
    original is kept; only byte sequences that actually look like UTF-8
    viewed through Latin-1 — i.e. mojibake — transform.  False positives
    require legitimate text whose Latin-1 bytes happen to form valid
    multi-byte UTF-8 (adjacent Ã/Â-class characters), vanishingly rare
    in real corpora and absent by construction in the oracle fixture.
    One repair round (double-corrupted text needs two passes; compose).

    Arrow-batched pandas UDF — per-row try/except has no column-
    expression equivalent; narrow map, no shuffle.
    """

    @F.pandas_udf("string")
    def fix(s: pd.Series) -> pd.Series:
        def one(t: str) -> str:
            if t is None:
                return t
            try:
                return t.encode("latin-1").decode("utf-8")
            except (UnicodeEncodeError, UnicodeDecodeError):
                return t

        return s.map(one)

    return df.withColumn(out_col, fix(F.col(text_col)))
