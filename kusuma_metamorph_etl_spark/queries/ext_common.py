"""Shared [EXT] oracle building blocks: the tokenization/shingle
SQL templates and the approx-vs-exact gate helpers every domain module
uses.  Split out of the former monolithic ``ext.py`` (r13); the oracle
conventions in the package docstring of :mod:`ext` still apply."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Tokenization building blocks, shared across text/dedup oracles.  Must stay
# textually in sync with operators/text.py::words (any-whitespace split,
# empties dropped).
_W = r"list_filter(regexp_split_to_array({src}, '\s+'), x -> x <> '')"

_W_LOWER = _W.format(src="lower(text)")

_W_TEXT = _W.format(src="text")

# The four Gopher quality metrics over a `tok` CTE carrying `text`, its
# tokens `w` and lowercased tokens `wl`.  Must stay textually in sync
# with operators/text.py::gopher_filter (thresholds live in the callers).
_GOPHER_METRICS = """CASE WHEN len(w) > 0
                      THEN CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w)
                      ELSE 0.0 END AS avg_wl,
                 CASE WHEN length(text) > 0
                      THEN CAST(len(regexp_extract_all(text,
                               '[#@<>{}\\[\\]\\\\|~^]')) AS DOUBLE)
                           / length(text)
                      ELSE 0.0 END AS sym_ratio,
                 CASE WHEN len(w) > 0
                      THEN CAST(len(list_filter(wl,
                               x -> x IN ('the','a','and','of','to','in','is','it')))
                               AS DOUBLE) / len(w)
                      ELSE 0.0 END AS stop_ratio,
                 CASE WHEN greatest(len(w) - 1, 0) > 0
                      THEN round(1.0 - CAST(len(list_distinct(
                               list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                              i -> concat_ws(' ', w[i], w[i+1]))))
                               AS DOUBLE) / (len(w) - 1), 6)
                      ELSE 0.0 END AS rep2"""


_SHINGLES = (
    "list_distinct(list_transform(range(len(w) - 2),"
    " i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))"
)


# Numeric-character-reference decode, mirroring
# operators/text.py::decode_numeric_refs expression-for-expression
# (sentinel marking, split, per-segment CASE): chr() for the sub-256
# range where Spark's mod-256 char() is exact, the common typography
# codepoints (true-unicode chr here == the literal chars Spark emits),
# 160 -> ' ', anything else -> ' '.  `{src}` is the input column.
# A decoded AMPERSAND (38/0x26) surfaces as chr(2) — the html_to_text
# composition (amp_as="\x02") — and the caller restores it to '&'
# AFTER its named-entity replaces ('&#38;lt;' must stay '&lt;').
_NUMREF_DECODE = """array_to_string(list_transform(list_transform(
  string_split(
    regexp_replace(
      regexp_replace(
        regexp_replace({src}, '[' || chr(1) || chr(2) || ']', ' ', 'g'),
        '&#([0-9]{{1,7}});', chr(1) || '\\1' || chr(2), 'g'),
      '&#[xX]([0-9a-fA-F]{{1,6}});', chr(1) || 'x\\1' || chr(2), 'g'),
    chr(1)),
  __p -> struct_pack(
    c := CASE WHEN regexp_matches(__p, '^[0-9]{{1,7}}' || chr(2))
              THEN CAST(regexp_extract(__p,
                   '^([0-9]{{1,7}})' || chr(2), 1) AS BIGINT)
              WHEN regexp_matches(__p, '^x[0-9a-fA-F]{{1,6}}' || chr(2))
              THEN CAST('0x' || regexp_extract(__p,
                   '^x([0-9a-fA-F]{{1,6}})' || chr(2), 1) AS BIGINT)
         END,
    r := regexp_replace(__p,
         '^(?:[0-9]{{1,7}}|x[0-9a-fA-F]{{1,6}})' || chr(2), ''),
    o := __p)),
  __s -> CASE WHEN __s.c IS NULL THEN __s.o
            ELSE (CASE WHEN __s.c = 38 THEN chr(2)
                       WHEN __s.c = 160 THEN ' '
                       WHEN __s.c IN (8211,8212,8216,8217,8220,8221,8226,
                                      8230,8242,8243,8364,8482,8594)
                            THEN chr(CAST(__s.c AS INTEGER))
                       WHEN (__s.c BETWEEN 32 AND 126)
                            OR (__s.c BETWEEN 161 AND 255)
                            THEN chr(CAST(__s.c AS INTEGER))
                       ELSE ' ' END) || __s.r END),
  '')"""

# ------------------------------------------- approx-path oracle binding
# The `_err` pattern (cf `agg_approx_distinct_err`): the approximate /
# hash-seeded operator's QUALITY gates the row count of an exact,
# oracle-computable result.  Healthy code emits the exact baseline and the
# driver's row/hash compare goes green; a recall regression empties the
# output and the compare turns red — the engine-specific values themselves
# are never hashed.  Gate bounds mirror the pytest contracts in
# tests/test_dedup.py / tests/test_similarity.py.


def _gate(out: DataFrame, stats: DataFrame, cond) -> DataFrame:
    """Emit ``out`` unchanged while ``cond`` holds over the single-row
    ``stats`` frame; emit ZERO rows otherwise."""
    open_gate = stats.filter(cond).select(F.lit(1).alias("__gate"))
    return out.crossJoin(F.broadcast(open_gate)).drop("__gate")

def _n(df: DataFrame, name: str) -> DataFrame:
    return df.agg(F.count(F.lit(1)).alias(name))
