"""[EXT] text-analysis queries (quality, tokenizers, language id,
fingerprints, chunking) — split from ``ext.py`` (r13)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from kusuma_metamorph_etl_spark.operators import subword, text
from kusuma_metamorph_etl_spark.plans.share import share
from kusuma_metamorph_etl_spark.registry import register
from kusuma_metamorph_etl_spark.sources.catalog import load_table as t
from kusuma_metamorph_etl_spark.queries.ext_common import (
    _GOPHER_METRICS,
    _NUMREF_DECODE,
    _W_LOWER,
    _W_TEXT,
)

@register(
    "txt_html_to_text",
    """WITH raw AS (
         SELECT doc_id,
                '<html><head><style>p {c: ' || doc_id || '}</style>'
                || '<script>if (1 < 2) { x("<p>"); }</script></head>'
                || '<body><h1>Doc ' || doc_id || '</h1><!-- c' || doc_id
                || ' --><p>A &amp; B &quot;q&quot;&nbsp;&#39;s&#39;</p>'
                || '<p>it&#8217;s &#x27;hex&#x27; &#169;&#160;&amp;#60; &#38;lt;</p>'
                || '<div>' || text || '</div></body></html>' AS html
         FROM documents),
       s1 AS (SELECT doc_id,
                     regexp_replace(html, '<script\\b.*?</script\\s*>', ' ',
                                    'gis') AS t FROM raw),
       s2 AS (SELECT doc_id,
                     regexp_replace(t, '<style\\b.*?</style\\s*>', ' ', 'gis')
                         AS t FROM s1),
       s3 AS (SELECT doc_id, regexp_replace(t, '<!--.*?-->', ' ', 'gs') AS t
              FROM s2),
       s4 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'gs') AS t
              FROM s3),
       s4n AS (SELECT doc_id, """
    + _NUMREF_DECODE.format(src="t")
    + """ AS t FROM s4),
       s5 AS (SELECT doc_id,
                     replace(replace(replace(replace(replace(replace(replace(t,
                         '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                         '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
                         chr(2), '&')
                         AS t
              FROM s4n)
       SELECT doc_id,
              trim(regexp_replace(t, '[ \\t\\n\\f\\r]+', ' ', 'g'))
                  AS text_clean
       FROM s5""",
)
def txt_html_to_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML->text extraction ([EXT] crawl preprocessing;
    `operators/text.py::html_to_text`): deterministic markup wrapped
    around each document (style/script blocks with tag-lookalike
    contents, comments, the dominant entities, decimal/hex NUMERIC
    character references incl. a `&amp;#60;` double-decode trap),
    stripped back to whitespace-normalized prose — the step between a
    WARC source and every downstream text signal."""
    docs = t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><style>p {c: "), d, F.lit("}</style>"),
        F.lit('<script>if (1 < 2) { x("<p>"); }</script></head>'),
        F.lit("<body><h1>Doc "), d, F.lit("</h1><!-- c"), d,
        F.lit(" --><p>A &amp; B &quot;q&quot;&nbsp;&#39;s&#39;</p>"),
        F.lit("<p>it&#8217;s &#x27;hex&#x27; &#169;&#160;&amp;#60; &#38;lt;</p>"),
        F.lit("<div>"), F.col("text"), F.lit("</div></body></html>"),
    )
    return docs.select(
        "doc_id", text.html_to_text(html).alias("text_clean")
    )

def _url_plain_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Messy-URL variant of `txt_url_normalize_family`: deterministic
    synthesis from doc_id (each residue class exercises one rule —
    fragment+port+tracking, default port+trailing slash, multi-utm,
    mid-query gclid, slash run), normalized by the engine-portable
    regexp chain (`operators/text.py::normalize_url`).  The DuckDB
    mirror needs the 'g' flag on the mid-query tracking step (RE2
    replaces first-match by default; Spark replaces all)."""
    docs = t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    raw = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("HTTPS://Example.COM:443/item/"), d,
                F.lit("?utm_source=feed&id="), d, F.lit("#top"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.lit("http://Shop.example.com:80/p/"), d, F.lit("/")),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(F.lit("http://a.example.net/?utm_a=1&utm_b="), d),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("https://b.example.org/x?a="), d, F.lit("&gclid=z&b=2")),
        )
        .otherwise(F.concat(F.lit("https://c.example.net/deep/"), d, F.lit("///")))
    )
    return docs.select(
        "doc_id",
        raw.alias("url_raw"),
        text.normalize_url(raw).alias("url_norm"),
    )

@register(
    "txt_html_main_text",
    """WITH raw AS (
         SELECT doc_id,
                '<html><body><nav><a href="/">Home</a> <a href="/about">'
                || 'About</a> <a href="/contact">Contact us</a></nav>'
                || '<p>' || text || '</p>'
                || '<div><a href="/r1">Related one</a> <a href="/r2">'
                || 'Related two</a> also try <a href="/r3">three</a></div>'
                || '<footer><a href="/tos">Terms of Service</a> &#8212; '
                || '<a href="/privacy">Privacy Policy</a> &#169; 2024'
                || '</footer></body></html>' AS html
         FROM documents),
       pre AS (SELECT doc_id,
                      regexp_replace(regexp_replace(regexp_replace(html,
                          '<script\\b.*?</script\\s*>', ' ', 'gis'),
                          '<style\\b.*?</style\\s*>', ' ', 'gis'),
                          '<!--.*?-->', ' ', 'gs') AS t
               FROM raw),
       kept AS (SELECT doc_id,
                       array_to_string(list_transform(list_filter(
                         list_transform(
                           string_split_regex(t,
                             '(?i)</?(?:p|div|section|article|li|ul|ol|dl'
                             || '|dt|dd|table|thead|tbody|tfoot|tr|td|th'
                             || '|h[1-6]|blockquote|header|footer|nav'
                             || '|aside|main|form|figure|figcaption|body'
                             || '|html|br|hr)\\b[^>]*>'),
                           __b -> struct_pack(
                             h := __b,
                             tl := CAST(len(trim(regexp_replace(
                                 regexp_replace(__b, '<[^>]*>', ' ', 'gs'),
                                 '[ \\t\\n\\f\\r]+', ' ', 'g'))) AS BIGINT),
                             nl := CAST(len(trim(regexp_replace(
                                 regexp_replace(regexp_replace(__b,
                                   '<a\\b[^>]*>.*?</a\\s*>', ' ', 'gis'),
                                 '<[^>]*>', ' ', 'gs'),
                                 '[ \\t\\n\\f\\r]+', ' ', 'g'))) AS BIGINT))),
                         __k -> __k.tl >= 25 AND
                                CAST(__k.tl - __k.nl AS DOUBLE)
                                  <= 0.5 * CAST(__k.tl AS DOUBLE)),
                         __k -> __k.h), ' ') AS t
                FROM pre),
       s1 AS (SELECT doc_id,
                     regexp_replace(t, '<script\\b.*?</script\\s*>', ' ',
                                    'gis') AS t FROM kept),
       s2 AS (SELECT doc_id,
                     regexp_replace(t, '<style\\b.*?</style\\s*>', ' ', 'gis')
                         AS t FROM s1),
       s3 AS (SELECT doc_id, regexp_replace(t, '<!--.*?-->', ' ', 'gs') AS t
              FROM s2),
       s4 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'gs') AS t
              FROM s3),
       s4n AS (SELECT doc_id, """
    + _NUMREF_DECODE.format(src="t")
    + """ AS t FROM s4),
       s5 AS (SELECT doc_id,
                     replace(replace(replace(replace(replace(replace(replace(t,
                         '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                         '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
                         chr(2), '&')
                         AS t
              FROM s4n)
       SELECT doc_id,
              trim(regexp_replace(t, '[ \\t\\n\\f\\r]+', ' ', 'g'))
                  AS text_main
       FROM s5""",
)
def txt_html_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction ([EXT] crawl preprocessing;
    `operators/text.py::main_content` + `extract_main_text`, r8 advice
    #3): each document wrapped in a realistic page shell — nav bar,
    link-rail "related" block, link-heavy footer — and the extractor
    must keep ONLY the article paragraph: nav falls to the min-length
    floor, the rail and footer to the link-density ceiling.  Block
    split + per-block length/density arithmetic + the full
    `html_to_text` chain, all column expressions, both engines."""
    docs = t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><body><nav><a href="/">Home</a> <a href="/about">'),
        F.lit('About</a> <a href="/contact">Contact us</a></nav>'),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.lit('<div><a href="/r1">Related one</a> <a href="/r2">'),
        F.lit('Related two</a> also try <a href="/r3">three</a></div>'),
        F.lit('<footer><a href="/tos">Terms of Service</a> &#8212; '),
        F.lit('<a href="/privacy">Privacy Policy</a> &#169; 2024'),
        F.lit("</footer></body></html>"),
    )
    return docs.select(
        "doc_id", text.extract_main_text(html).alias("text_main")
    )

def _url_sorted_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-param-SORTING variant of `txt_url_normalize_family`
    (`operators/text.py::normalize_url(sort_params=True)`, r8 advice
    #4): three param orderings of the SAME page (plus a tracking param
    and an empty segment in one variant) — the sorted canonical form
    collapses all three to one dedup key where the r8 normalizer split
    them.  Split–filter–sort–rejoin, engine-portable (Spark binary
    string sort == DuckDB binary collation)."""
    docs = t(spark, sf_dir, "documents")
    p = (F.col("doc_id") % 20).cast("string")
    raw = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("https://ex.example.com/p/"), p,
                F.lit("?a=1&b="), p, F.lit("&c=3"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("https://ex.example.com/p/"), p,
                F.lit("?c=3&a=1&b="), p,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://ex.example.com/p/"), p,
                F.lit("?b="), p, F.lit("&utm_x=9&&c=3&a=1"),
            )
        )
    )
    return docs.select(
        "doc_id",
        raw.alias("url_raw"),
        text.normalize_url(raw, sort_params=True).alias("url_norm"),
    )

@register(
    "txt_url_normalize_family",
    r"""WITH raw AS (
          SELECT 'plain' AS variant, doc_id,
                 CASE doc_id % 5
                   WHEN 0 THEN 'HTTPS://Example.COM:443/item/' || doc_id
                               || '?utm_source=feed&id=' || doc_id || '#top'
                   WHEN 1 THEN 'http://Shop.example.com:80/p/' || doc_id || '/'
                   WHEN 2 THEN 'http://a.example.net/?utm_a=1&utm_b=' || doc_id
                   WHEN 3 THEN 'https://b.example.org/x?a=' || doc_id
                               || '&gclid=z&b=2'
                   ELSE 'https://c.example.net/deep/' || doc_id || '///'
                 END AS url_raw
          FROM documents
          UNION ALL
          SELECT 'sorted' AS variant, doc_id,
                 CASE doc_id % 3
                   WHEN 0 THEN 'https://ex.example.com/p/' || (doc_id % 20)
                               || '?a=1&b=' || (doc_id % 20) || '&c=3'
                   WHEN 1 THEN 'https://ex.example.com/p/' || (doc_id % 20)
                               || '?c=3&a=1&b=' || (doc_id % 20)
                   ELSE 'https://ex.example.com/p/' || (doc_id % 20)
                        || '?b=' || (doc_id % 20) || '&utm_x=9&&c=3&a=1'
                 END AS url_raw
          FROM documents),
        s1 AS (SELECT variant, doc_id, url_raw,
                      regexp_replace(trim(url_raw), '#.*$', '') AS u FROM raw),
        s2 AS (SELECT variant, doc_id, url_raw,
                      concat(lower(regexp_extract(u,
                                 '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)),
                             regexp_replace(u,
                                 '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''))
                          AS u FROM s1),
        s3 AS (SELECT variant, doc_id, url_raw,
                      regexp_replace(
                        regexp_replace(u, '^(http://[^/:?#]+):80([/?#]|$)',
                                       '\1\2'),
                        '^(https://[^/:?#]+):443([/?#]|$)', '\1\2')
                          AS u FROM s2),
        s4 AS (SELECT variant, doc_id, url_raw,
                      regexp_replace(u,
                        '([?&])(?:(?:utm_[^=&]*|gclid|fbclid)=[^&]*&)+',
                        '\1', 'g') AS u FROM s3),
        s5 AS (SELECT variant, doc_id, url_raw,
                      regexp_replace(u,
                        '[?&](?:(?:utm_[^=&]*|gclid|fbclid)=[^&]*&?)+$', '')
                          AS u FROM s4),
        s6 AS (SELECT variant, doc_id, url_raw,
                      regexp_replace(u, '[?&/ \t\n\f\r]+$', '') AS u FROM s5),
        s7 AS (SELECT variant, doc_id, url_raw,
                      CASE WHEN variant = 'plain'
                             OR regexp_extract(u, '^[^?]*\?(.*)$', 1) = ''
                           THEN u
                           ELSE regexp_extract(u, '^([^?]*)', 1) || '?' ||
                                array_to_string(list_sort(list_filter(
                                  string_split(regexp_extract(u,
                                    '^[^?]*\?(.*)$', 1), '&'),
                                  __x -> __x <> '')), '&')
                      END AS u FROM s6)
        SELECT variant, doc_id, url_raw, u AS url_norm FROM s7""",
)
def txt_url_normalize_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization ([EXT] crawl-dedup primitive) — both
    normalizer modes in one tagged frame (consolidates the r8-green
    rows `txt_url_normalize`/`txt_url_normalize_v2` under the
    retire-one-per-addition registry policy, funding `samp_dsir`; the
    r13 VERDICT Next #5 candidate pair).  The 'plain' branch drives
    `normalize_url` over five messy-URL residue classes, the 'sorted'
    branch drives `normalize_url(sort_params=True)` over three param
    orderings of the same page — both APIs stay exercised and both
    hash gates stay live under one driver slot."""
    plain = _url_plain_frame(spark, sf_dir).select(
        F.lit("plain").alias("variant"), "doc_id", "url_raw", "url_norm"
    )
    sorted_ = _url_sorted_frame(spark, sf_dir).select(
        F.lit("sorted").alias("variant"), "doc_id", "url_raw", "url_norm"
    )
    return plain.unionByName(sorted_)

@register(
    "txt_readability",
    f"""SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_sentences AS BIGINT) AS n_sentences,
               CAST(n_syllables AS BIGINT) AS n_syllables,
               CASE WHEN n_words > 0 THEN
                 round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                       + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                       - 15.59, 6)
               END AS fk_grade
        FROM (SELECT doc_id,
                     len({_W_TEXT}) AS n_words,
                     greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                         AS n_sentences,
                     len(regexp_extract_all(lower(text), '[aeiouy]+'))
                         AS n_syllables
              FROM documents)""",
)
def txt_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level ([EXT] corpus-curation signal;
    `operators/text.py::readability`): vowel groups never span the
    whitespace word boundary, so whole-text regexp counts equal the
    per-word sums — three counts + arithmetic, no explode, same
    expression both engines."""
    docs = t(spark, sf_dir, "documents")
    txt = F.col("text")
    return docs.select(
        "doc_id",
        F.size(text.words(txt)).cast("long").alias("n_words"),
        F.greatest(F.regexp_count(txt, F.lit(r"[.!?]+")), F.lit(1))
        .cast("long")
        .alias("n_sentences"),
        F.regexp_count(F.lower(txt), F.lit("[aeiouy]+"))
        .cast("long")
        .alias("n_syllables"),
        text.readability(txt).alias("fk_grade"),
    )

@register(
    "txt_token_count",
    f"""SELECT doc_id,
               len({_W_TEXT}) AS n_ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                   AS n_bpe_tokens
        FROM documents""",
)
def txt_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts (`operators/text.py`)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        text.bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )

@register(
    "txt_quality",
    f"""WITH q AS (
          SELECT doc_id,
                 length(text) AS n_chars,
                 len({_W_TEXT}) AS n_tokens,
                 len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
                 len(list_filter({_W_LOWER},
                     x -> x IN ('the','a','and','of','to','in','is','it')))
                     AS n_stop
          FROM documents)
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CASE WHEN n_tokens > 0
                    THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens
                    ELSE 0.0 END AS avg_word_len,
               CASE WHEN n_chars > 0
                    THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END
                   AS punct_ratio,
               CASE WHEN n_tokens > 0
                    THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END
                   AS stopword_ratio,
               round(0.4 * least(n_tokens / 100.0, 1.0)
                     + 0.3 * (CASE WHEN n_tokens > 0
                                   THEN CAST(n_stop AS DOUBLE) / n_tokens
                                   ELSE 0.0 END)
                     + 0.3 * (1.0 - least((CASE WHEN n_chars > 0
                                                THEN CAST(n_punct AS DOUBLE) / n_chars
                                                ELSE 0.0 END) * 10.0, 1.0)), 6)
                   AS quality_score
        FROM q""",
)
def txt_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punct/stopword features + composite quality score."""
    docs = t(spark, sf_dir, "documents")
    return text.quality_features(docs).select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "avg_word_len",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
    )

@register(
    "txt_language_id",
    f"""WITH v AS (
          SELECT doc_id, {_W_LOWER} AS w FROM documents),
        c AS (
          SELECT doc_id,
                 len(list_filter(w, x -> x IN ('the','a','and','of','to','in','is','it'))) AS en,
                 len(list_filter(w, x -> x IN ('el','la','de','que','y','los','en','un'))) AS es,
                 len(list_filter(w, x -> x IN ('le','la','de','et','les','des','un','une'))) AS fr,
                 len(list_filter(w, x -> x IN ('der','die','das','und','ist','ein','zu','den'))) AS de
          FROM v)
        SELECT doc_id,
               CASE WHEN en >= es AND en >= fr AND en >= de AND en > 0 THEN 'en'
                    WHEN es >= fr AND es >= de AND es > 0 THEN 'es'
                    WHEN fr >= de AND fr > 0 THEN 'fr'
                    WHEN de > 0 THEN 'de'
                    ELSE 'und' END AS lang_pred
        FROM c""",
)
def txt_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (deterministic tiebreak order)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.language_id(F.col("text")).alias("lang_pred"))

# SQL list literals built from the SAME python tuples the engine scans
# with — one source of truth for both sides of the hash compare.
_POS_SQL = ",".join(f"'{w}'" for w in text.POSITIVE_WORDS)
_NEG_SQL = ",".join(f"'{w}'" for w in text.NEGATIVE_WORDS)

@register(
    "txt_sentiment",
    f"""WITH v AS (
          SELECT doc_id, {_W_LOWER} AS w FROM documents),
        c AS (
          SELECT doc_id,
                 len(list_filter(w, x -> x IN ({_POS_SQL}))) AS n_pos,
                 len(list_filter(w, x -> x IN ({_NEG_SQL}))) AS n_neg
          FROM v)
        SELECT doc_id,
               CAST(n_pos AS INTEGER) AS n_pos,
               CAST(n_neg AS INTEGER) AS n_neg,
               CAST(n_pos - n_neg AS DOUBLE)
                   / greatest(n_pos + n_neg, 1) AS polarity,
               CASE WHEN n_pos > n_neg THEN 'positive'
                    WHEN n_neg > n_pos THEN 'negative'
                    ELSE 'neutral' END AS sentiment
        FROM c""",
)
def txt_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-vote sentiment scoring (r13; the EDBT'16
    sentiment-on-Spark scan stage — `operators/text.py::
    sentiment_scores`): positive/negative valence counts over the
    engine's exact token rule, matched-token-normalized polarity, and a
    count-decided 3-way label.  Scan-speed column expressions — the
    cheap affect pre-filter next to `txt_quality`/`txt_gopher_filter`
    in a training-data pipeline; model scorers plug in via the
    mapInPandas seam.  The single division ships raw (bit-identical
    cross-engine per the float policy)."""
    docs = t(spark, sf_dir, "documents")
    return text.sentiment_scores(docs).select(
        "doc_id", "n_pos", "n_neg", "polarity", "sentiment"
    )

@register(
    "txt_fingerprint_family",
    """SELECT doc_id,
              md5(text) AS fp,
              md5(concat_ws('|',
                  CAST(length(text) AS VARCHAR),
                  substring(text, 1, 64),
                  substring(text, length(text) // 2 + 1, 64),
                  substring(text, greatest(length(text) - 63, 1), 64)))
                  AS sketch_fp,
              list_min(list_transform(
                  range(1, greatest(length(text) - 31, 1) + 1, 7),
                  i -> md5(substring(text, i, 32)))) AS rolling_fp
       FROM documents""",
)
def txt_fingerprint_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting family — r17 consolidation of the
    long-green `txt_fingerprint` + `txt_rolling_fingerprint` under the
    retire-one policy (funding `mart_pretrain_batches`); both bodies are
    the pure union of the retired rows' projections over one scan.
    Full-content md5, (length, head, middle, tail) locality sketch, and
    the winnowing-style rolling-hash fingerprint (min md5 over sampled
    32-char windows — stable under content movement)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.fingerprint(F.col("text")).alias("fp"),
        text.sketch_fingerprint(F.col("text")).alias("sketch_fp"),
        text.rolling_fingerprint(F.col("text"), window=32, stride=7).alias(
            "rolling_fp"
        ),
    )

@register(
    "txt_tfidf",
    f"""WITH tok AS (
          SELECT doc_id, unnest({_W_LOWER}) AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n""",
)
def txt_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF ([EXT] text analysis): smoothed idf, broadcast corpus
    size, term-keyed shuffle join (`operators/text.py::tf_idf`)."""
    docs = t(spark, sf_dir, "documents")
    return text.tf_idf(docs)

@register(
    "txt_chunk",
    f"""WITH tok AS (
          SELECT doc_id, {_W_TEXT} AS w FROM documents),
        idx AS (
          SELECT doc_id, w,
                 unnest(range(CASE WHEN len(w) <= 64 THEN 1
                              ELSE CAST(ceil((len(w) - 64) / 48.0) AS BIGINT) + 1
                              END)) AS chunk_idx
          FROM tok)
        SELECT doc_id, chunk_idx,
               CAST(len(w[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS BIGINT)
                   AS n_tokens,
               array_to_string(w[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
                   AS chunk_text
        FROM idx""",
)
def txt_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token / stride-48 chunking ([EXT]): the LLM
    context-window prep step (`operators/text.py::chunk_tokens`)."""
    docs = t(spark, sf_dir, "documents")
    return text.chunk_tokens(docs, window=64, stride=48)

@register(
    "txt_gopher_filter",
    f"""WITH tok AS (SELECT doc_id, text, {_W_TEXT} AS w,
                            {_W_LOWER} AS wl
                     FROM documents),
        m AS (
          SELECT doc_id,
                 (text IS NULL) AS is_null_text,
                 length(text) AS n_chars,
                 len(w) AS n_tokens,
                 {_GOPHER_METRICS}
          FROM tok)
        SELECT doc_id,
               CASE WHEN is_null_text THEN 'null_text'
                    WHEN n_tokens < 20 THEN 'too_few_tokens'
                    WHEN n_tokens > 100000 THEN 'too_many_tokens'
                    WHEN avg_wl < 2.0 THEN 'avg_word_len_low'
                    WHEN avg_wl > 12.0 THEN 'avg_word_len_high'
                    WHEN sym_ratio > 0.12 THEN 'symbol_ratio_high'
                    WHEN stop_ratio < 0.02 THEN 'stopword_ratio_low'
                    WHEN rep2 > 0.6 THEN 'repetition_high'
                    END AS reject_reason,
               (CASE WHEN is_null_text THEN 'null_text'
                    WHEN n_tokens < 20 THEN 'too_few_tokens'
                     WHEN n_tokens > 100000 THEN 'too_many_tokens'
                     WHEN avg_wl < 2.0 THEN 'avg_word_len_low'
                     WHEN avg_wl > 12.0 THEN 'avg_word_len_high'
                     WHEN sym_ratio > 0.12 THEN 'symbol_ratio_high'
                     WHEN stop_ratio < 0.02 THEN 'stopword_ratio_low'
                     WHEN rep2 > 0.6 THEN 'repetition_high'
                     END) IS NULL AS keep
        FROM m""",
)
def txt_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style composite quality filter ([EXT]): the
    cheap text signals composed into keep/drop with the first failing
    rule named (`operators/text.py::gopher_filter`).  One narrow
    projection — runs at scan speed in front of dedup/model scoring."""
    docs = t(spark, sf_dir, "documents")
    return text.gopher_filter(docs).select("doc_id", "reject_reason", "keep")

@register(
    "txt_repetition",
    f"""WITH tok AS (SELECT doc_id, {_W_TEXT} AS w FROM documents),
        g AS (
          SELECT doc_id,
                 list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                i -> concat_ws(' ', w[i], w[i+1])) AS g2,
                 list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                                i -> concat_ws(' ', w[i], w[i+1], w[i+2])) AS g3
          FROM tok)
        SELECT doc_id,
               CAST(len(g2) AS BIGINT) AS n_2grams,
               CASE WHEN len(g2) > 0
                    THEN round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
                    ELSE 0.0 END AS dup_2gram_frac,
               CASE WHEN len(g3) > 0
                    THEN round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
                    ELSE 0.0 END AS dup_3gram_frac
        FROM g""",
)
def txt_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition fractions over word 2/3-grams
    ([EXT] quality filter; `operators/text.py::ngram_repetition`).  Pure
    narrow projection — no shuffle, scales as a scan."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(text.word_ngrams(F.col("text"), 2)).cast("long").alias("n_2grams"),
        text.ngram_repetition(F.col("text"), 2).alias("dup_2gram_frac"),
        text.ngram_repetition(F.col("text"), 3).alias("dup_3gram_frac"),
    )

@register(
    "txt_pii_scrub",
    f"""SELECT doc_id,
               len(regexp_extract_all(text, '{text.EMAIL_REGEX}')) AS n_emails,
               len(regexp_extract_all(text, '{text.NUMBER_REGEX}')) AS n_numbers,
               md5(regexp_replace(regexp_replace(text, '{text.EMAIL_REGEX}', '<EMAIL>', 'g'),
                                  '{text.NUMBER_REGEX}', '<NUM>', 'g')) AS scrub_fp
        FROM documents""",
)
def txt_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction ([EXT]): emails / phone-ish digit runs → typed
    placeholders, with match counts; fingerprint keeps the compare compact
    (`operators/text.py::scrub_pii`)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(text.EMAIL_REGEX)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(text.NUMBER_REGEX)).cast("long").alias("n_numbers"),
        F.md5(text.scrub_pii(F.col("text"))).alias("scrub_fp"),
    )

def _roundtrip_lengths(encoded: DataFrame, decoded: Column) -> DataFrame:
    """The tokenizer round-trip rows' output: the docs that pass the
    lossless gate, with the length of their space-trimmed, run-collapsed
    text — the oracle's ``regexp_replace(trim(text), '\\s+', ' ')``
    (``trim`` strips only spaces on both engines)."""
    normalized = F.regexp_replace(F.trim("text"), subword.WS_RUN, " ")
    return subword.lossless(encoded, decoded).select(
        "doc_id", F.length(normalized).cast("long").alias("n_norm_chars")
    )

@register(
    "txt_bpe_roundtrip",
    r"""SELECT doc_id,
              CAST(length(regexp_replace(trim(text), '\s+', ' ', 'g'))
                   AS BIGINT) AS n_norm_chars
       FROM documents""",
)
def txt_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE tokenization ([EXT], `operators/bpe.py`): merges trained
    on the corpus word-frequency table (bounded driver loop, the
    ivf_build pattern), every document encoded to subwords distributed,
    then decoded back.  Losslessness is the gate: a row survives only if
    decode(encode(text)) equals the whitespace-normalized text, so a
    merge-table or encoder bug drops rows and the driver compare turns
    red; the emitted normalized length is oracle-computable."""
    from kusuma_metamorph_etl_spark.operators import bpe

    docs = t(spark, sf_dir, "documents")
    encoded = bpe.bpe_encode(docs, bpe.bpe_train(docs, n_merges=200))
    return _roundtrip_lengths(encoded, bpe.bpe_decode(F.col("tokens")))

@register(
    "txt_char_entropy",
    """WITH g AS (
         SELECT doc_id,
                unnest(list_transform(range(1, length(text)),
                                      i -> substr(text, i, 2))) AS gram
         FROM documents WHERE length(text) >= 2),
       c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
       SELECT doc_id,
              round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy,
              CAST(sum(c) AS BIGINT) AS n_grams
       FROM c GROUP BY doc_id""",
)
def txt_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram Shannon entropy per document ([EXT]) — the
    information-theoretic junk detector (`operators/text.py::char_entropy`):
    mash and boilerplate score low, natural prose mid-band, compressed
    noise near max."""
    docs = t(spark, sf_dir, "documents")
    return text.char_entropy(docs, n=2)

@register(
    "txt_keywords",
    f"""WITH tok AS (
          SELECT doc_id, unnest({_W_LOWER}) AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term,
                 round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6)
                     AS tfidf
          FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        ranked AS (
          SELECT doc_id, term, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term) AS rank
          FROM scored)
        SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3""",
)
def txt_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document ([EXT] text analysis;
    `operators/text.py::keywords`) — deterministic rounded-score ranking
    with term tie-break; the window partitions per document, so it is
    document-bounded at any corpus size."""
    docs = t(spark, sf_dir, "documents")
    return text.keywords(docs, k=3)

@register(
    "txt_perplexity",
    f"""WITH tok AS MATERIALIZED (
          SELECT doc_id, {_W_LOWER} AS w FROM documents),
        big AS MATERIALIZED (
          SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
          FROM tok, unnest(range(1, len(w))) AS t(i)
          WHERE len(w) >= 2),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
        c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
        v AS (SELECT count(DISTINCT t) AS v FROM (
                SELECT w1 AS t FROM big UNION SELECT w2 FROM big)),
        lp AS (
          SELECT b.doc_id,
                 CAST(round(log2((coalesce(c2.c2, 0) + 1.0)
                                 / (coalesce(c1.c1, 0) + (SELECT v FROM v))), 9)
                      AS DECIMAL(38,9)) AS lp
          FROM big b
          LEFT JOIN c2 USING (w1, w2)
          LEFT JOIN c1 USING (w1))
        SELECT doc_id, count(*) AS n_bigrams,
               round(CAST(-sum(lp) AS DOUBLE) / count(*), 6) AS bits_per_bigram
        FROM lp GROUP BY doc_id""",
)
def txt_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring ([EXT] text analysis;
    `operators/text.py::bigram_lm_scores`): bits-per-bigram of each
    document under the add-one-smoothed corpus bigram model — the
    CCNet-style quality-filter signal.  Log terms rounded to 9 dp and
    summed in exact decimal, so both engines agree bit-for-bit."""
    docs = t(spark, sf_dir, "documents")
    return text.bigram_lm_scores(docs)

@register(
    "txt_search_and",
    f"""SELECT doc_id
       FROM (SELECT doc_id, {_W_TEXT} AS w FROM documents)
       WHERE list_contains(w, 'batch') AND list_contains(w, 'scan')
         AND list_contains(w, 'merge')""",
)
def txt_search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted inverted-index AND-search ([EXT] text;
    `operators/text.py::build_inverted_index/search_all_terms`): docs
    containing ALL of {{batch, scan, merge}}, answered from a
    bucket-partitioned posting index with the scan pruned to the query
    terms' buckets — the oracle recomputes membership from the raw text,
    so a lost posting, a build/search hash drift, or a broken bucket
    layout all hash-mismatch.  The index round-trips through a
    run-scoped temp dir (rebuilt per run here, persisted across runs in
    production); the result doc-id list re-materializes before cleanup
    (bounded: matching docs only)."""
    import shutil
    import tempfile

    from kusuma_metamorph_etl_spark.operators.text import (
        build_inverted_index,
        search_all_terms,
    )

    docs = t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="inv_index_")
    try:
        build_inverted_index(docs, tmp)
        found = search_all_terms(spark, tmp, ["batch", "scan", "merge"])
        return spark.createDataFrame(
            found.collect(), schema="doc_id long"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

@register(
    "txt_collocations",
    f"""WITH d AS (SELECT {_W_LOWER} AS tk FROM documents),
        d2 AS (SELECT tk FROM d WHERE len(tk) >= 2),
        big AS (
          SELECT unnest(list_transform(range(len(tk) - 1),
                        i -> struct_pack(w1 := tk[i+1], w2 := tk[i+2]))) AS bg
          FROM d2),
        pc AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS n_pair
               FROM big GROUP BY 1, 2),
        uni AS (SELECT w, count(*) AS n_w
                FROM (SELECT unnest(tk) AS w FROM d) GROUP BY 1),
        tot AS (SELECT (SELECT sum(n_pair) FROM pc) AS nb,
                       (SELECT sum(n_w) FROM uni) AS nu)
       SELECT p.w1, p.w2, CAST(p.n_pair AS BIGINT) AS n_pair,
              round(log2((CAST(p.n_pair AS DOUBLE) / CAST(t.nb AS DOUBLE))
                         / ((CAST(a.n_w AS DOUBLE) / CAST(t.nu AS DOUBLE))
                            * (CAST(b.n_w AS DOUBLE) / CAST(t.nu AS DOUBLE)))),
                    6) AS pmi
       FROM pc p
       JOIN uni a ON a.w = p.w1
       JOIN uni b ON b.w = p.w2
       CROSS JOIN tot t
       WHERE p.n_pair >= 5""",
)
def txt_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI bigram collocations ([EXT] text;
    `operators/text.py::collocations`): adjacent-word pairs seen ≥ 5
    times scored by pointwise mutual information — the phrase-mining
    pass that finds multiword units; one scan, two keyed aggs, word-
    keyed joins, corpus totals broadcast."""
    return text.collocations(t(spark, sf_dir, "documents"), min_count=5)

@register(
    "txt_unigram_roundtrip",
    r"""SELECT doc_id,
              CAST(length(regexp_replace(trim(text), '\s+', ' ', 'g'))
                   AS BIGINT) AS n_norm_chars
       FROM documents""",
)
def txt_unigram_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL unigram-LM tokenization ([EXT], `operators/unigram.py` —
    Kudo 2018, the SentencePiece default model): piece vocabulary seeded
    from word substrings, hard-EM pruned to size on the driver-bounded
    word table, every document Viterbi-encoded distributed, decoded with
    the same inverse as BPE.  Losslessness is the gate (identical
    contract to `txt_bpe_roundtrip`): a row survives only if
    decode(encode(text)) equals the whitespace-normalized text, so a
    vocabulary hole or a Viterbi bug drops rows and the driver compare
    turns red."""
    from kusuma_metamorph_etl_spark.operators import bpe, unigram

    docs = t(spark, sf_dir, "documents")
    encoded = unigram.unigram_encode(docs, unigram.unigram_train(docs, vocab_size=512))
    return _roundtrip_lengths(encoded, bpe.bpe_decode(F.col("tokens")))

@register(
    "txt_fix_mojibake",
    """SELECT doc_id, text || ' — café nœud Σ' AS fixed
       FROM documents WHERE doc_id % 7 = 0""",
)
def txt_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair ([EXT] text; `operators/text.py::fix_mojibake`):
    every 7th document gets a non-ASCII suffix, is CORRUPTED the way
    real crawls are (its UTF-8 bytes re-read as Latin-1 — "café" →
    "cafÃ©"), then repaired by the Latin-1→UTF-8 round-trip heuristic.
    The oracle holds the clean expected text, so an incomplete or
    over-eager repair hash-mismatches; the no-op safety contract on
    clean text is pinned in tests."""
    from kusuma_metamorph_etl_spark.operators.text import fix_mojibake

    clean = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" — café nœud Σ")).alias("clean"),
        )
    )

    @F.pandas_udf("string")
    def corrupt(s: pd.Series) -> pd.Series:
        return s.map(lambda x: x.encode("utf-8").decode("latin-1"))

    corrupted = clean.select(
        "doc_id", corrupt(F.col("clean")).alias("text")
    )
    return fix_mojibake(corrupted).select(
        "doc_id", F.col("fixed")
    )

@register(
    "txt_chunk_sentences",
    """WITH punct AS (
         -- the synthetic corpus has no sentence punctuation; mint
         -- deterministic sentence breaks so multi-chunk + overlap are
         -- really exercised (same synthesis on both engines)
         SELECT doc_id,
                regexp_replace(text, '\\b(table|query|value)\\b', '\\1.',
                               'g') AS text
         FROM documents),
       s AS (
         SELECT doc_id,
                list_filter(string_split(
                  regexp_replace(regexp_replace(text, chr(1), ' ', 'g'),
                                 '([.!?])[ \\t\\n\\f\\r]+',
                                 '\\1' || chr(1), 'g'),
                  chr(1)), __x -> trim(__x) <> '') AS sents
         FROM punct),
       st AS (SELECT doc_id, sents,
                     unnest(range(1, greatest(len(sents) - 1, 1) + 1, 4))
                         AS start
              FROM s),
       c AS (SELECT doc_id,
                    CAST((start - 1) // 4 AS BIGINT) AS chunk_idx,
                    sents[start : start + 4] AS piece
             FROM st)
       SELECT doc_id, chunk_idx,
              CAST(len(piece) AS BIGINT) AS n_sentences,
              array_to_string(piece, ' ') AS chunk_text
       FROM c WHERE array_to_string(piece, ' ') <> ''""",
)
def txt_chunk_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-aware overlapping chunking ([EXT] text;
    `operators/text.py::chunk_sentences`): 5-sentence windows advancing
    by 4 (overlap 1) — the boundary-aligned RAG/embedding chunker next
    to `txt_chunk`'s token windows.  Narrow fan-out, no shuffle.  The
    fixture mints deterministic sentence breaks (the synthetic corpus
    has none), so docs genuinely produce several overlapping chunks."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.col("text"), r"\b(table|query|value)\b", "$1."
        ).alias("text"),
    )
    return text.chunk_sentences(docs, n_sentences=5, overlap=1)

@register(
    "txt_wordpiece_roundtrip",
    r"""SELECT doc_id,
              CAST(length(regexp_replace(trim(text), '\s+', ' ', 'g'))
                   AS BIGINT) AS n_norm_chars
       FROM documents""",
)
def txt_wordpiece_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WordPiece tokenization ([EXT], `operators/wordpiece.py` —
    the BERT-family third tokenizer next to BPE and unigram-LM):
    likelihood-ratio merges trained on the corpus word table (driver
    loop over the bounded aggregate, alphabet seeded from the FULL
    corpus so the training set never hits [UNK]), every document
    encoded by distributed greedy longest-match, decoded by the
    ##-continuation column expression.  Losslessness is the gate — a
    row survives only if decode(encode(text)) equals the
    whitespace-normalized text, so a merge-scoring, longest-match, or
    continuation bug drops rows and flips the driver red; the emitted
    normalized length is oracle-computable (same contract as
    `txt_bpe_roundtrip`/`txt_unigram_roundtrip`)."""
    from kusuma_metamorph_etl_spark.operators import wordpiece as wp

    docs = t(spark, sf_dir, "documents")
    encoded = wp.wordpiece_encode(docs, wp.wordpiece_train(docs, n_merges=200))
    return _roundtrip_lengths(encoded, wp.wordpiece_decode(F.col("tokens")))


@register(
    "txt_quality_model",
    """SELECT doc_id,
              CAST(CASE WHEN ((doc_id % 1000) * 2654435761) % 1000 >= 500
                        THEN 1 ELSE 0 END AS INTEGER) AS label_pred
       FROM documents""",
)
def txt_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-classifier quality scoring ([EXT], r15 — the
    CCNet/fastText/FineWeb-Edu practice of filtering by a TRAINED model
    score, beside the rule-based `txt_quality`/`txt_gopher_filter` and
    the importance-ratio half in `samp_dsir`):
    `operators/classifier.py::train_logistic` runs distributed batch GD
    (one map-side-combinable aggregation per iteration, EXACT decimal
    gradient sums so the weights are partition-order-independent), then
    scores every doc with a pure column expression.

    The training task is a PLANTED margin-separated label (a Knuth-hash
    pseudo-uniform of doc_id, classes at x <= -0.2 / x >= +0.2) mixed
    with the real punct/stopword/word-length features as nuisance
    dimensions — so the row proves the trainer finds the separating
    direction among noise, and BECAUSE the classes are margin-separated
    the learned model must classify them perfectly for the row to hash:
    the emitted prediction equals the closed-form label, making this a
    FULL-oracle row whose gate is 100% accuracy (one flipped boundary
    doc diverges the hash).  Scoring real corpora swaps in weak labels
    (reference-corpus membership) over the same trainer.

    The Knuth mix is reduced mod 1000 BEFORE the multiply (r16 ADVICE):
    ``(id * k) % 1000 == ((id % 1000) * k) % 1000`` exactly for id >= 0,
    and the reduced product stays < 2.7e12 — no int64 wrap at any
    doc_id, where the unreduced form silently wrapped in Spark (and
    raised in DuckDB) past doc_id ~ 3.5e9.  Convergence assumption:
    n_iter=10 / lr=8 reaches 0 training errors on this margin-separated
    task — verified empirically at sf0.001/0.01/0.1 (and 7 cores); a
    larger corpus keeps the same margin geometry (the label depends
    only on doc_id % 1000) but the bound is empirical, not proven."""
    from kusuma_metamorph_etl_spark.operators.classifier import (
        predict_logistic,
        train_logistic,
    )

    docs = t(spark, sf_dir, "documents")
    qf = text.quality_features(docs)
    # reduce mod 1000 before the multiply: exact-equal to the unreduced
    # Knuth mix for id >= 0, overflow-safe at any doc_id (r16 ADVICE)
    u = (((F.col("doc_id") % 1000) * F.lit(2654435761)) % 1000) / F.lit(1000.0)
    x_sep = F.when(u < 0.5, 0.6 * u - 0.5).otherwise(0.6 * (u - 0.5) + 0.2)
    # Shared: the trainer's internal persist and the scoring pass
    # otherwise EACH re-run the quality_features text pass over
    # documents — two full feature extractions for one query (r19,
    # §2.2).  The shared frame is 6 narrow columns.
    train = share(
        qf.select(
            "doc_id",
            x_sep.alias("x_sep"),
            (u >= 0.5).cast("int").alias("label"),
            "punct_ratio",
            "stopword_ratio",
            (F.col("avg_word_len") / 10.0).alias("awl_scaled"),
        )
    )
    feature_cols = ["x_sep", "punct_ratio", "stopword_ratio", "awl_scaled"]
    # 10 passes at lr=8 reach 0 errors at sf0.001/0.01/0.1 (A/B'd r15;
    # 20@4 was the same accuracy for 2x the overhead-dominated jobs)
    weights = train_logistic(train, feature_cols, "label", n_iter=10, lr=8.0)
    scored = predict_logistic(train, weights, feature_cols)
    return scored.select(
        "doc_id",
        (F.col("score") >= 0.5).cast("int").alias("label_pred"),
    )


@register(
    "txt_ccnet_buckets",
    f"""WITH tok AS MATERIALIZED (
          SELECT doc_id, lang, {_W_LOWER} AS w FROM documents),
        big AS MATERIALIZED (
          SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
          FROM tok, unnest(range(1, len(w))) AS t(i)
          WHERE len(w) >= 2),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
        c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
        v AS (SELECT count(DISTINCT t) AS v FROM (
                SELECT w1 AS t FROM big UNION SELECT w2 FROM big)),
        lp AS (
          SELECT b.doc_id,
                 CAST(round(log2((coalesce(c2.c2, 0) + 1.0)
                                 / (coalesce(c1.c1, 0) + (SELECT v FROM v))), 9)
                      AS DECIMAL(38,9)) AS lp
          FROM big b
          LEFT JOIN c2 USING (w1, w2)
          LEFT JOIN c1 USING (w1)),
        s AS (
          SELECT doc_id,
                 round(CAST(-sum(lp) AS DOUBLE) / count(*), 6) AS bpb
          FROM lp GROUP BY doc_id),
        sl AS (SELECT s.doc_id, tok.lang, s.bpb
               FROM s JOIN tok USING (doc_id)),
        th AS (SELECT lang,
                      round(quantile_cont(bpb, 1.0/3), 6) AS t1,
                      round(quantile_cont(bpb, 2.0/3), 6) AS t2
               FROM sl GROUP BY lang)
        SELECT sl.doc_id, sl.lang,
               CASE WHEN sl.bpb <= th.t1 THEN 'head'
                    WHEN sl.bpb <= th.t2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM sl JOIN th USING (lang)""",
)
def txt_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing ([EXT], r15 — Wenzek et al.
    2020's signature move): per-LANGUAGE perplexity terciles split the
    corpus into head / middle / tail quality tiers (head = lowest
    bits-per-bigram third), the partition CCNet publishes and trainers
    mix from.  Composes the registered bigram-LM scorer
    (`text.bigram_lm_scores`, order-independent decimal log-sums) with
    exact per-lang percentiles; tercile thresholds are rounded 6 dp in
    BOTH engines so the boundary compare is bit-stable, and the
    threshold frame (one row per language) broadcasts back onto the
    scores — the doc side never shuffles for the labeling."""
    from pyspark.sql.functions import broadcast

    docs = t(spark, sf_dir, "documents")
    # One scoring pass: the tercile aggregation AND the labeling join
    # both read the narrow (doc_id, bits_per_bigram, lang) frame —
    # without sharing, the whole bigram-LM subtree (tokenize, bigram +
    # unigram counts, vocab, per-doc log-sum) ran TWICE (r18 before-plan:
    # nodes 1-56 duplicated at 58-113; 40 Exchanges total).
    scores = share(
        text.bigram_lm_scores(docs).join(docs.select("doc_id", "lang"), "doc_id")
    )
    th = scores.groupBy("lang").agg(
        F.round(F.percentile("bits_per_bigram", F.lit(1.0 / 3)), 6).alias("t1"),
        F.round(F.percentile("bits_per_bigram", F.lit(2.0 / 3)), 6).alias("t2"),
    )
    bpb = F.col("bits_per_bigram")
    return scores.join(broadcast(th), "lang").select(
        "doc_id",
        "lang",
        F.when(bpb <= F.col("t1"), "head")
        .when(bpb <= F.col("t2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
