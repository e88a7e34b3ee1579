"""Streaming validation — continuous `check all` over arriving files.

The reference's "streaming" is a bounded thread pipeline over a finite
file (`/root/reference/doc/data_flow.md:13-23`), so batch DataFrames are
the primary engine (SURVEY.md §1.2). This module adds the genuinely
continuous variant a 100 TB ingest pipeline wants: new parquet files of
interleaved docs land in a directory; every micro-batch is validated by
the SAME fused pass (plans/check_all semantics) via ``foreachBatch``,
writing violations + per-batch metrics to sinks partitioned by epoch id.
foreachBatch is at-least-once: an epoch replays when the query stops
between the sink write and the checkpoint commit. Every sink here is
written one epoch partition at a time with overwrite (_write_epoch), so
a replayed epoch REPLACES its own partition and the sinks hold each
epoch's rows exactly once.

Also provided: a watermarked windowed violation-rate aggregation over
an event-timestamped violation stream (late data handled by watermark)
— the event-time capability the reference lacks (§2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from fastpasta_spark import schema as S
from fastpasta_spark.operators.sequence import sequence_pass, split_sequence_output


# once the media-id size guard trips, skip its distinct+LIMIT probe
# (which collects up to max_ids+1 id rows per epoch just to discard
# them) for this many epochs before probing again. A live dim never
# shrinks, so the re-probe exists only for operational resets (env cap
# raised, dim compacted) — keep it rare.
GUARD_REPROBE_EPOCHS = 32


def _write_epoch(df: DataFrame, epoch_id: int, path: str) -> None:
    """Idempotent per-epoch sink write: the rows land in the
    ``epoch_id=<id>`` partition directory of ``path`` (the layout
    partitionBy("epoch_id") writes, so reading ``path`` yields an
    epoch_id column), replacing whatever a previous attempt of the same
    epoch wrote there and touching no other partition. Overwriting the
    partition's own directory needs no partitionOverwriteMode, so the
    session conf (read by every other query) never changes, and an
    empty epoch still writes a schema-only file: a sink whose every
    epoch was clean stays readable."""
    df.write.mode("overwrite").parquet(f"{path}/epoch_id={epoch_id}")


def validate_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    media: DataFrame | None = None,
    max_files_per_trigger: int = 8,
) -> StreamingQuery:
    """readStream(parquet docs) -> fused validation per micro-batch ->
    violations and metrics parquet sinks under out_dir, partitioned by
    epoch_id (replay-safe, see _write_epoch). Returns the running
    query."""
    stream = (
        spark.readStream.schema(S.DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    guard = {"tripped_at": None}  # epoch id when the size guard tripped

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # the media-id set is re-resolved PER EPOCH, preserving the old
        # per-batch anti-join's live-dim semantics: a media dim still
        # being ingested accepts refs to rows added after stream start
        # from the next epoch on. The E110 check itself rides the fused
        # pass in-scan (same shape as plans/check_all — no per-batch
        # second scan of the DOCS; BENCH/REFS_INPASS.md), and the
        # epoch's broadcast is freed here, not left to the registry.
        # media_id_broadcast is SIZE-GUARDED (a live dim grows without
        # bound and will eventually cross MEDIA_BROADCAST_MAX): on None
        # the epoch's E110 degrades to the columnar anti-join over the
        # micro-batch — same guard, same fallback as plans/check_all.
        # The guard trip is MEMOIZED: a dim past the cap stays past it,
        # so later epochs go straight to the columnar fallback instead
        # of re-paying the probe's driver collect every micro-batch;
        # a low-frequency re-probe (GUARD_REPROBE_EPOCHS) recovers the
        # broadcast path after an operational reset.
        vm_bc = None
        if media is not None:
            from fastpasta_spark.plans.check_all import media_id_broadcast

            t = guard["tripped_at"]
            if t is None or epoch_id - t >= GUARD_REPROBE_EPOCHS:
                vm_bc = media_id_broadcast(media, track=False)
                guard["tripped_at"] = None if vm_bc is not None else epoch_id
        out = sequence_pass(batch_df, fused=True, valid_media_ids=vm_bc)
        try:
            violations, stats = split_sequence_output(out.persist())
            if media is not None and vm_bc is None:
                from fastpasta_spark.plans.check_all import (
                    _referential_branch,
                    media_ref_rows,
                )

                violations = violations.unionByName(_referential_branch(
                    media_ref_rows(batch_df), media, broadcast_dim=False))
            _write_epoch(violations, epoch_id, f"{out_dir}/violations")
            _write_epoch(stats, epoch_id, f"{out_dir}/metrics")
        finally:
            out.unpersist()
            if vm_bc is not None:
                vm_bc.unpersist()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def violation_rate_windows(violations_with_ts: DataFrame,
                           window: str = "1 minute",
                           watermark: str = "2 minutes") -> DataFrame:
    """Watermarked windowed violation-rate aggregation (works on a
    streaming DF; on a batch DF it degrades to a plain window groupBy)."""
    df = violations_with_ts
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window), "check_code")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "check_code", "n")
    )


def constraint_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    rules: list,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuous generic constraint validation — the streaming face of
    `check table`: new parquet files of an ARBITRARY table land in
    input_dir; each micro-batch's per-rule violation counts
    (operators/constraints.violation_counts — row rules fused into one
    agg, unique/FK as their own branches) land in out_dir partitioned by
    epoch id. The write is replay-safe (_write_epoch): a replayed epoch
    REPLACES its own partition instead of appending a duplicate
    row-set, so summing counts over epochs stays correct.
    Row-rule counts are additive across batches; unique/FK counts are
    per-batch scoped, as an unbounded stream has no global uniqueness
    without a state store — use streaming/dedup_stream for that.
    """
    from fastpasta_spark.operators.constraints import violation_counts

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        _write_epoch(violation_counts(batch_df, rules), epoch_id,
                     f"{out_dir}/rule_counts")

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
