"""Streaming quality filter: the batch scoring stack as a streaming stage.

The reference has no streaming surface (SURVEY.md §2.9); this module
extends the engine so a transcript stream (Kafka / file source /
rate-source tests) flows through the SAME ``score_turns`` projection —
one code path for batch and streaming, which is what keeps the per-turn
keep/drop contract identical across both.

Design:
- ``score_stream``: stateless scoring — pure projection, so it attaches
  to any streaming DataFrame with no state store and no shuffle.
- ``filtered_writer``: ``foreachBatch`` sink reusing the batch
  pipeline's partitioned-write layout (keep/bucket), prefixed with a
  per-epoch ``run_id=stream-{batch_id}`` partition.  Each micro-batch
  DYNAMICALLY OVERWRITES its own run_id partitions, so a replayed
  epoch (failure after write, before checkpoint commit) rewrites the
  same partitions instead of appending duplicates — exactly-once per
  epoch, given the source's deterministic epoch replay (which the
  streaming checkpoint guarantees for replayable sources).
- ``windowed_drop_metrics``: watermarked per-window drop-reason counts
  — the streaming analogue of the metrics table (late turns beyond the
  watermark are dropped from metrics, never from data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import FilterConfig
from ..pipeline import score_turns, sink_frame, with_bucket


def score_stream(
    stream_df: DataFrame,
    spark: SparkSession,
    cfg: FilterConfig | None = None,
    n_buckets: int = 32,
) -> DataFrame:
    """Attach the full scoring projection to a streaming DataFrame.

    Stateless (projection only) — works on any source delivering the
    transcript schema (conv_id, turn_idx, role, text, tool, ts)."""
    cfg = cfg or FilterConfig()
    return score_turns(with_bucket(stream_df, n_buckets), spark, cfg)


def filtered_writer(output_dir: str):
    """``foreachBatch`` function writing each scored micro-batch under a
    ``run_id=stream-{batch_id}`` partition in the batch pipeline's
    (keep, bucket) layout.

    Idempotent replay: ``overwrite`` + dynamic partitionOverwriteMode
    only replaces the partitions PRESENT in this batch — i.e. exactly
    this epoch's ``run_id`` subtree.  A micro-batch retried after a
    crash overwrites its own earlier (possibly partial) output instead
    of appending a second copy, which is what makes the sink
    exactly-once per epoch."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            sink_frame(batch_df)
            .withColumn("run_id", F.lit(f"stream-{batch_id}"))
            .write.partitionBy("run_id", "keep", "bucket")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(f"{output_dir}/scored")
        )

    return _write


def start_stream_filter(
    stream_df: DataFrame,
    spark: SparkSession,
    output_dir: str,
    checkpoint_dir: str,
    cfg: FilterConfig | None = None,
    n_buckets: int = 32,
    trigger_seconds: int | None = None,
):
    """Wire source → scoring → foreachBatch sink; returns the query."""
    scored = score_stream(stream_df, spark, cfg, n_buckets)
    writer = (
        scored.writeStream.foreachBatch(filtered_writer(output_dir))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def dedup_stream(
    stream_df: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup: at-least-once sources
    (Kafka replays, overlapping file drops) re-deliver turns; this keeps
    the FIRST arrival of each (conv_id, turn_idx) and drops later
    copies.  ``dropDuplicatesWithinWatermark`` bounds the dedup state to
    the watermark horizon — the unbounded-state-free form of streaming
    dedup (plain dropDuplicates on a stream keeps every key forever).
    """
    keys = keys or ["conv_id", "turn_idx"]
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def windowed_drop_metrics(
    scored_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked per-window drop-reason counts (streaming metrics).

    Late turns beyond the watermark fall out of the counts only — the
    data path above is stateless and never drops them."""
    return (
        scored_stream.withWatermark("ts", watermark)
        .select(F.col("ts"), F.explode_outer("drop_reasons").alias("reason"))
        .groupBy(F.window("ts", window).alias("w"), "reason")
        .count()
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "reason",
            "count",
        )
    )


def dedup_conversations_stream(
    stream_df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Conversation-level exact dedup AT INGEST TIME — the streaming form
    of ``ops.convstats.dedup_conversations`` (the double-ingest guard is
    most valuable before duplicates land in the lake).

    Two chained watermark-bounded stateful stages:

    1. **Close conversations**: per ``conv_id``, a ``session_window``
       (gap-merge on event time) collects the turn set; the watermark
       closes a conversation ``gap`` after its last turn and emits ONE
       row carrying the same hash-chain fingerprint the batch operator
       computes — md5 over the idx-ordered per-turn md5 digests (text
       is hashed map-side; the session state stores 32-char digests,
       never text; NULL text hashes to a sentinel).
    2. **Drop re-ingested fingerprints**:
       ``dropDuplicatesWithinWatermark`` on the fingerprint keeps ONE
       completed conversation per fingerprint: a replayed or
       double-ingested dialogue (same turns under any conv_id) closing
       inside the dedup horizon is dropped.  The first micro-batch
       arrival wins; when several copies close in the SAME micro-batch
       the surviving conv_id is arbitrary but single (the copies are
       textually identical, so either is a correct survivor — unlike
       the batch operator, which can see the whole corpus and elects
       min(conv_id)).  State for both stages is bounded by the
       watermark — nothing grows with the corpus; the dedup horizon is
       the upstream watermark delay, so size ``watermark`` to the
       re-ingest window you need to guard (e.g. hours for a replayed
       feed), not just to event lateness.

    Fingerprint parity with the batch operator holds whenever a
    conversation's turns fall inside one session window (the operator's
    completeness contract); the emitted row also reports ``n_turns``
    and the closing timestamp for lineage.
    """
    per_turn = stream_df.withWatermark(ts_col, watermark).select(
        F.col(ts_col),
        F.col(conv_col).alias("conv_id"),
        F.col(idx_col).alias("turn_idx"),
        F.coalesce(F.md5(F.col(text_col)), F.lit("<null>")).alias("h"),
    )
    convs = (
        per_turn.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"),
            F.col("conv_id"),
        )
        .agg(
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("turn_idx", "h"))),
                        lambda s: s["h"],
                    ),
                )
            ).alias("fingerprint"),
            F.count(F.lit(1)).alias("n_turns"),
        )
    )
    # Deduplicate BEFORE projecting the session struct away: the agg
    # output's event time lives on the session_window struct, and the
    # propagated watermark is what bounds the dedup state.  (A
    # re-declared withWatermark on the projected close time DEADLOCKS:
    # the query's global watermark is the min across watermark nodes,
    # and a node fed only by the aggregation's output never advances
    # past epoch until the aggregation emits — which itself waits on
    # the global watermark.)
    return convs.dropDuplicatesWithinWatermark(["fingerprint"]).select(
        "conv_id", "fingerprint", "n_turns",
        F.col("sw.end").alias("closed_at"),
    )


def incremental_neardup_writer(
    index_path: str,
    output_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
):
    """``foreachBatch`` function running NEAR-duplicate dedup at ingest:
    each micro-batch is probed against the persisted MinHash signature
    index (``ops.incremental.incremental_dedup`` — the exact same
    operator the batch path runs), survivors land under an
    ``ingest_batch=stream-{batch_id}`` partition of ``{output_dir}/kept``
    and their signatures are committed as the index partition
    ``batch_id=stream-{batch_id}``.

    This is the near-dup sibling of :func:`dedup_conversations_stream`
    (which guards exact re-ingest): a document ~80 %-similar to anything
    ALREADY ingested — in any earlier micro-batch or any earlier batch
    run sharing the index — never reaches the lake.

    Exactly-once per epoch on BOTH sinks under replay: the index commit
    excludes and dynamically overwrites the batch's own partition
    (``incremental_dedup``'s contract), and the kept write dynamically
    overwrites its own ``ingest_batch`` partition — a retried epoch
    reproduces identical state instead of appending duplicates.

    State lives ON DISK in the index, not in the streaming state store:
    the probe horizon is the whole ingested corpus (unbounded in time,
    ~136 bytes/doc), while per-epoch memory stays bounded by the
    micro-batch — the right trade for corpus-lifetime dedup, where a
    watermark-bounded state store could only guard a time window."""
    from ..ops.incremental import incremental_dedup

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        res = incremental_dedup(
            batch_df.sparkSession, batch_df, index_path,
            f"stream-{batch_id}", id_col=id_col, text_col=text_col,
            n=n, threshold=threshold,
        )
        try:
            (
                res.kept
                .withColumn("ingest_batch", F.lit(f"stream-{batch_id}"))
                .write.partitionBy("ingest_batch")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(f"{output_dir}/kept")
            )
        finally:
            # incremental_dedup persists the pair set for its stats; in a
            # long-running stream that cache must not accumulate per epoch
            res.dup_pairs.unpersist()

    return _write


def start_incremental_neardup(
    stream_df: DataFrame,
    index_path: str,
    output_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    trigger_seconds: int | None = None,
):
    """Wire a document stream → per-epoch incremental near-dup probe →
    kept-docs sink + signature-index commit; returns the query."""
    writer = (
        stream_df.writeStream.foreachBatch(
            incremental_neardup_writer(
                index_path, output_dir, id_col, text_col, n, threshold
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def nb_gate_writer(
    model_path: str,
    output_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    llr_threshold: int = 0,
):
    """``foreachBatch`` function running the TRAINED-CLASSIFIER gate at
    ingest: each micro-batch is scored against a persisted Naive-Bayes
    model (``ops.lm.nb_score`` — the exact operator the batch path
    runs; model trained offline with ``nb_train``/``save_nb_model``),
    and docs with llr_sum > ``llr_threshold`` land under an
    ``ingest_batch=stream-{batch_id}`` partition of
    ``{output_dir}/kept`` while the rest leave a drop-lineage row
    (keys + score, no text payload) under ``{output_dir}/dropped``.

    This is the cheap-gate-replaces-expensive-battery deployment the
    distillation test pins (tests/test_lm.py): label once with the full
    rule battery, train NB offline, gate the firehose with one
    broadcast join per micro-batch.  The model loads ONCE when the
    writer is created (it is a bounded vocabulary-sized table), not per
    epoch.  Exactly-once per epoch under replay: both sinks dynamically
    overwrite their own ``ingest_batch`` partition, so a retried epoch
    reproduces identical state instead of appending duplicates."""
    from ..ops.lm import load_nb_model, nb_score

    state: dict = {}

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not state:
            model, prior, per_tok = load_nb_model(spark, model_path)
            state["model"] = model.localCheckpoint()
            state["prior"], state["per_tok"] = prior, per_tok
        scored = nb_score(
            batch_df, state["model"], state["prior"], state["per_tok"],
            id_col=id_col, text_col=text_col,
        )
        tagged = (
            batch_df.withColumnRenamed(id_col, "doc_id")
            .join(scored, "doc_id", "left")
            # docs with no tokens get no score row: they fail the gate
            .withColumn(
                "keep",
                F.coalesce(F.col("llr_sum") > llr_threshold, F.lit(False)),
            )
            .withColumn("ingest_batch", F.lit(f"stream-{batch_id}"))
        )
        (
            tagged.filter("keep")
            .drop("keep")
            .write.partitionBy("ingest_batch")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(f"{output_dir}/kept")
        )
        (
            tagged.filter("NOT keep")
            .select("doc_id", "llr_sum", "n_tokens", "ingest_batch")
            .write.partitionBy("ingest_batch")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(f"{output_dir}/dropped")
        )

    return _write


def start_nb_gate(
    stream_df: DataFrame,
    model_path: str,
    output_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    llr_threshold: int = 0,
    trigger_seconds: int | None = None,
):
    """Wire a document stream → per-epoch NB-classifier gate → kept sink
    + drop lineage; returns the query."""
    writer = (
        stream_df.writeStream.foreachBatch(
            nb_gate_writer(
                model_path, output_dir, id_col, text_col, llr_threshold
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
