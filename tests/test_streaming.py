"""Streaming validation: file-source micro-batches produce the same
violations as the batch pass; watermarked windowed aggregation runs."""

import pytest
from pyspark.sql import functions as F

from fastpasta_spark.operators.sequence import sequence_pass, split_sequence_output
from fastpasta_spark.sources.synth import CorpusConfig, corpus_df
from fastpasta_spark.streaming.validate_stream import (
    validate_stream,
    violation_rate_windows,
)

CFG = CorpusConfig(n_docs=200, corrupt_per_mille=200)


def test_stream_matches_batch(spark, tmp_path):
    docs = corpus_df(spark, CFG)
    in_dir = str(tmp_path / "in")
    docs.repartition(4).write.parquet(in_dir)

    q = validate_stream(
        spark, in_dir,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = sorted(
        (r.doc_id, r.span_idx, r.offset, r.check_code)
        for r in spark.read.parquet(str(tmp_path / "out" / "violations")).collect()
    )
    batch_viol, _ = split_sequence_output(sequence_pass(docs, fused=True))
    expected = sorted(
        (r.doc_id, r.span_idx, r.offset, r.check_code)
        for r in batch_viol.collect()
    )
    assert got == expected
    assert len(got) > 0

    # restart with same checkpoint: no reprocessing, no duplicate rows
    q2 = validate_stream(
        spark, in_dir,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(60)
    again = spark.read.parquet(str(tmp_path / "out" / "violations")).count()
    assert again == len(got)

    # replay: drop the last epoch's commit (the query stopped after the
    # sink write, before the checkpoint commit) and restart — the
    # replayed epoch must replace its rows in the sink, not append them
    commits = tmp_path / "ckpt" / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    (commits / str(last)).unlink()
    (commits / f".{last}.crc").unlink()
    q3 = validate_stream(
        spark, in_dir,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q3.awaitTermination(60)
    assert q3.exception() is None
    replayed = sorted(
        (r.doc_id, r.span_idx, r.offset, r.check_code)
        for r in spark.read.parquet(str(tmp_path / "out" / "violations")).collect()
    )
    assert replayed == expected


def test_stream_clean_corpus_sink_readable(spark, tmp_path):
    """An all-clean stream writes no violation rows, but its sink must
    still read back as an empty table with the violation columns."""
    docs = corpus_df(spark, CorpusConfig(n_docs=50, corrupt_per_mille=0))
    in_dir = str(tmp_path / "in")
    docs.repartition(2).write.parquet(in_dir)
    q = validate_stream(spark, in_dir, out_dir=str(tmp_path / "out"),
                        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    sink = spark.read.parquet(str(tmp_path / "out" / "violations"))
    assert sink.count() == 0
    assert {"doc_id", "check_code", "epoch_id"} <= set(sink.columns)


def test_stream_referential_matches_batch_check_all(spark, tmp_path):
    """validate_stream with a media dim must emit the same E110 rows as
    batch check_all — the micro-batch pass uses the SAME in-scan check
    against the once-broadcast media-id set (no per-batch re-scan)."""
    from fastpasta_spark.plans.check_all import check_all
    from fastpasta_spark.sources.synth import media_df

    docs = corpus_df(spark, CFG)
    media = media_df(spark, CFG)
    in_dir = str(tmp_path / "in")
    docs.repartition(4).write.parquet(in_dir)

    q = validate_stream(
        spark, in_dir,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        media=media,
    )
    q.awaitTermination(120)

    got = sorted(
        (r.doc_id, r.span_idx, r.offset, r.message)
        for r in spark.read.parquet(str(tmp_path / "out" / "violations"))
        .filter("check_code = 'E110'").collect()
    )
    expected = sorted(
        (r.doc_id, r.span_idx, r.offset, r.message)
        for r in check_all(docs, media).violations
        .filter("check_code = 'E110'").collect()
    )
    assert got == expected and len(got) > 0


def test_violation_rate_windows_batch_shape(spark):
    rows = [
        ("d1", "E70", "2024-01-01 00:00:10"),
        ("d2", "E70", "2024-01-01 00:00:40"),
        ("d3", "E11", "2024-01-01 00:01:10"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, check_code string, ts_s string") \
        .withColumn("ts", F.to_timestamp("ts_s"))
    out = violation_rate_windows(df).collect()
    got = {(str(r.window_start), r.check_code): r.n for r in out}
    assert got[("2024-01-01 00:00:00", "E70")] == 2
    assert got[("2024-01-01 00:01:00", "E11")] == 1


def test_constraint_stream_counts_match_batch(spark, tmp_path):
    from fastpasta_spark.operators.constraints import (
        in_range, not_null, violation_counts)
    from fastpasta_spark.streaming.validate_stream import constraint_stream

    tbl = spark.createDataFrame(
        [(i, None if i % 10 == 0 else float(i)) for i in range(200)],
        "id long, amount double")
    in_dir = str(tmp_path / "in")
    tbl.repartition(4).write.parquet(in_dir)

    rules = [not_null("amount"), in_range("amount", 0.0, 150.0)]
    q = constraint_stream(
        spark, in_dir, "id long, amount double", rules,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = (spark.read.parquet(str(tmp_path / "out" / "rule_counts"))
           .groupBy("rule").agg(F.sum("violations").alias("v")))
    got = {r.rule: r.v for r in got.collect()}
    expected = {r.rule: r.violations
                for r in violation_counts(tbl, rules).collect()}
    assert got == expected and expected["not_null_amount"] == 20


def test_stream_referential_guarded_fallback_parity(spark, tmp_path, monkeypatch):
    """With the media-id size guard tripped (forced-low
    FASTPASTA_MEDIA_BC_MAX), each epoch's E110 degrades to the columnar
    anti-join over the micro-batch — same rows as the broadcast path."""
    from fastpasta_spark.plans.check_all import check_all, media_id_broadcast
    from fastpasta_spark.sources.synth import media_df

    docs = corpus_df(spark, CFG)
    media = media_df(spark, CFG)
    in_dir = str(tmp_path / "in")
    docs.repartition(4).write.parquet(in_dir)

    expected = sorted(
        (r.doc_id, r.span_idx, r.offset, r.message)
        for r in check_all(docs, media).violations
        .filter("check_code = 'E110'").collect()
    )
    monkeypatch.setenv("FASTPASTA_MEDIA_BC_MAX", "1")
    assert media_id_broadcast(media, track=False) is None  # guard live
    q = validate_stream(
        spark, in_dir,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        media=media,
    )
    q.awaitTermination(120)
    got = sorted(
        (r.doc_id, r.span_idx, r.offset, r.message)
        for r in spark.read.parquet(str(tmp_path / "out" / "violations"))
        .filter("check_code = 'E110'").collect()
    )
    assert got == expected and len(got) > 0


def test_stream_guard_trip_memoized_across_epochs(spark, tmp_path,
                                                  monkeypatch):
    """Once the media-id size guard trips, later epochs must go straight
    to the columnar fallback WITHOUT re-running the distinct+LIMIT probe
    (ADVICE r6: a live dim never shrinks, so each epoch re-paid a
    ~max_ids-row driver collect forever) — and the violations stay
    row-identical to the batch engine."""
    import fastpasta_spark.plans.check_all as ca
    from fastpasta_spark.plans.check_all import check_all
    from fastpasta_spark.sources.synth import media_df

    docs = corpus_df(spark, CFG)
    media = media_df(spark, CFG)
    in_dir = str(tmp_path / "in")
    docs.repartition(4).write.parquet(in_dir)

    expected = sorted(
        (r.doc_id, r.span_idx, r.offset, r.message)
        for r in check_all(docs, media).violations
        .filter("check_code = 'E110'").collect()
    )
    monkeypatch.setenv("FASTPASTA_MEDIA_BC_MAX", "1")

    calls = {"n": 0}
    real = ca.media_id_broadcast

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(ca, "media_id_broadcast", counting)
    q = validate_stream(
        spark, in_dir,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        media=media,
        max_files_per_trigger=1,  # 4 part files -> 4 epochs
    )
    q.awaitTermination(120)
    n_epochs = (spark.read.parquet(str(tmp_path / "out" / "metrics"))
                .select("epoch_id").distinct().count())
    assert n_epochs >= 2, "test needs multiple epochs to mean anything"
    assert calls["n"] == 1, (
        f"guard probe ran {calls['n']}x across {n_epochs} epochs; "
        "the trip must be memoized")
    got = sorted(
        (r.doc_id, r.span_idx, r.offset, r.message)
        for r in spark.read.parquet(str(tmp_path / "out" / "violations"))
        .filter("check_code = 'E110'").collect()
    )
    assert got == expected and len(got) > 0


def test_score_stream_matches_batch_and_is_idempotent(spark, tmp_path):
    """Fitted models applied on arrival: streamed scores+gate equal the
    batch apply row-for-row, and a second availableNow run over the same
    checkpoint adds nothing (file-sink exactly-once)."""
    from fastpasta_spark.operators.textstats import fit_scoring_model
    from fastpasta_spark.streaming.score_stream import score_stream

    good = ("the quick brown fox jumps over the lazy dog and it is "
            "a fine day for running checks in the data pipeline")
    gib = "zzq wvx qqj xxv zzk wwq vvx qqz kkx wwj zzv xxq jjw kkq vvz"
    rows = [(i, good if i % 3 else gib) for i in range(60)] + [(99, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    in_dir = str(tmp_path / "in")
    docs.repartition(4).write.parquet(in_dir)

    # fit on a REFERENCE slice, not the stream (the 100-TB contract)
    ref = docs.filter("doc_id < 30")
    model = fit_scoring_model(ref, ["quality", "lm"], vocab_k=2000)
    gate = {"avg_logprob": -6.0}

    expected = sorted(
        (r.doc_id, r.quality, r.avg_logprob)
        for r in model.apply(docs)
        .filter("avg_logprob is not null and avg_logprob >= -6.0").collect()
    )
    assert 0 < len(expected) < 61  # the gate visibly cuts something

    out = str(tmp_path / "scored")
    ckpt = str(tmp_path / "ckpt")
    q = score_stream(spark, in_dir, out, ckpt, model, min_scores=gate,
                     max_files_per_trigger=2)  # >1 epoch
    q.awaitTermination(120)
    got = sorted((r.doc_id, r.quality, r.avg_logprob)
                 for r in spark.read.parquet(out).collect())
    assert got == expected

    # idempotent restart: no new files -> no new rows
    q2 = score_stream(spark, in_dir, out, ckpt, model, min_scores=gate)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == len(expected)
