"""Empty-input behavior of the newest operators: empty in, empty (or
well-defined) out — no crashes, no surprise rows.  Production pipelines
hit empty partitions/days constantly; an operator that throws on them
pages someone at 3am."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def _empty(spark, schema):
    return spark.createDataFrame([], schema)


def test_ewma_and_seasonal_empty(spark):
    from kusuma_metamorph_etl_spark.operators.timeseries import (
        ewma,
        resample_ohlc,
        seasonal_profile,
    )

    df = _empty(spark, "k string, d date, v double")
    assert ewma(df, ["k"], "d", "v").count() == 0
    assert seasonal_profile(df, ["k"], "d", "v").count() == 0
    assert resample_ohlc(df, ["k"], "d", "v").count() == 0


def test_event_ops_empty(spark):
    from kusuma_metamorph_etl_spark.operators.events import (
        attribution,
        session_stats,
        transition_matrix,
    )

    df = _empty(
        spark,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    assert attribution(df).count() == 0
    assert transition_matrix(df).count() == 0
    assert session_stats(df).count() == 0


def test_sketches_empty(spark):
    from kusuma_metamorph_etl_spark.operators.sketches import (
        bloom_probe,
        bloom_sketch,
        theta_set_algebra,
    )

    empty = _empty(spark, "v long")
    # empty sketches estimate 0, not NULL
    assert tuple(theta_set_algebra(empty, empty, "v").collect()[0]) == (0,) * 5
    sk = bloom_sketch(empty, "v", n_bits=1 << 10)
    assert sk.count() == 0
    # probing a non-empty frame against an EMPTY sketch: definitively absent
    probe = spark.createDataFrame([(1,), (2,)], "v long")
    out = bloom_probe(sk, probe, "v", n_bits=1 << 10)
    assert out.filter(F.col("maybe_present")).count() == 0


def test_dedup_and_graph_empty(spark):
    from kusuma_metamorph_etl_spark.operators.dedup import semantic_dedup
    from kusuma_metamorph_etl_spark.operators.graph import (
        connected_components,
        incremental_components,
    )

    edges = _empty(spark, "a long, b long")
    assert connected_components(edges).count() == 0
    labels = _empty(spark, "node long, component long")
    assert incremental_components(labels, edges).count() == 0
    # semantic dedup of an empty corpus: nothing to drop, nothing
    # returned — at DEFAULT refine_iters, so the Lloyd loop's empty
    # guard is exercised (ADVICE r7: refine_iters=0 masked an
    # AxisError in ivf_build on the empty centroid list)
    emb = _empty(spark, "vec_id long, embedding array<float>")
    assert semantic_dedup(emb, threshold=0.9).count() == 0
    from kusuma_metamorph_etl_spark.operators.similarity import ivf_build

    assert ivf_build(emb, n_centroids=4, refine_iters=2) == []


def test_text_ops_empty(spark):
    from kusuma_metamorph_etl_spark.operators.text import (
        collocations,
        fix_mojibake,
    )

    docs = _empty(spark, "doc_id long, text string")
    assert collocations(docs).count() == 0
    assert fix_mojibake(docs).count() == 0


def test_transcode_unigram_warc_empty(spark, tmp_path):
    from kusuma_metamorph_etl_spark.operators import bpe, multimodal, unigram
    from kusuma_metamorph_etl_spark.sources.warc import read_warc, write_warc

    # transcode of an empty payload frame: empty out, no codec invoked
    empty_imgs = spark.createDataFrame([], "doc_id long, payload binary")
    assert multimodal.transcode_images(empty_imgs, to="png").count() == 0

    # unigram training on an empty corpus: empty vocab, and encoding
    # still round-trips via the UNK character fallback
    docs = spark.createDataFrame([], "doc_id long, text string")
    logp = unigram.unigram_train(docs, vocab_size=16)
    assert logp == {}
    probe = spark.createDataFrame([(1, "ab c")], ["doc_id", "text"])
    out = unigram.unigram_encode(probe, logp).collect()[0]["tokens"]
    assert bpe.END in out  # still segments, char-by-char

    # WARC file with zero records parses to zero rows
    write_warc([], str(tmp_path / "empty.warc"))
    assert read_warc(spark, str(tmp_path)).count() == 0


def test_r9_operators_empty(spark):
    from kusuma_metamorph_etl_spark.operators.events import stickiness
    from kusuma_metamorph_etl_spark.operators.graph import kcore
    from kusuma_metamorph_etl_spark.operators import layout
    from kusuma_metamorph_etl_spark.operators.sampling import weighted_sample
    from kusuma_metamorph_etl_spark.plans.quality import freshness_report

    edges = _empty(spark, "a long, b long")
    assert kcore(edges, k=3).count() == 0

    ev = _empty(spark, "ts timestamp, user_id long, event_type string")
    assert stickiness(ev).count() == 0
    assert freshness_report(ev, "ts", ["event_type"], "2024-01-01").count() == 0

    rows = _empty(spark, "id long, w double")
    assert weighted_sample(rows, F.col("id"), F.col("w"), k=5).count() == 0

    part = _empty(spark, "p string, nb long")
    assert layout.compaction_plan(part, "p", F.col("nb")).count() == 0
    z = layout.zorder_minmax_key(
        _empty(spark, "a int, b int"), ["a", "b"], bits=4
    )
    assert z.count() == 0 and "__z" in z.columns


def test_wordpiece_empty_corpus_and_empty_text(spark):
    from kusuma_metamorph_etl_spark.operators import wordpiece as wp

    empty = _empty(spark, "doc_id long, text string")
    vocab = wp.wordpiece_train(empty)
    assert vocab == []  # no alphabet, no merges
    df = spark.createDataFrame([("",), ("   ",)], ["text"])
    got = [r["tokens"] for r in wp.wordpiece_encode(df, ["a", "##a"]).collect()]
    assert got == [[], []]
