"""Structured Streaming demonstration (SURVEY SS2.10 — optional).

The reference is batch-only [U]; the north rule is batch [B:14]. This module
exists to show the engine's operators compose with streaming ingestion: a
file-source stream of `events`-shaped parquet, watermarked 10-minute tumbling
windows per event_type, and a streaming variant of the extraction stage
(pages arriving as files -> mapInArrow extraction -> append sink).

Never on the correctness path; covered by tests/test_streaming.py using
Trigger.AvailableNow so it runs bounded in CI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .api import ExtractConfig, fused_extract_udf
from .tables import EXTRACTED_SCHEMA, PAGES_SCHEMA


def windowed_event_counts(spark: SparkSession, src_dir: str, schema) -> DataFrame:
    """10-min tumbling window counts with 15-min watermark for late data."""
    stream = spark.readStream.schema(schema).parquet(src_dir)
    return (
        stream.withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type", "n", "total_value",
        )
    )


def streaming_extract(spark: SparkSession, pages_dir: str,
                      cfg: ExtractConfig = ExtractConfig(dedup=False)) -> DataFrame:
    """Streaming flagship: pages files -> fused extraction (same UDF as
    batch; dedup is a batch concern — streaming appends every crawl row,
    and the in-UDF sorted-run dedup has no sorted input here)."""
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    return stream.select("url", "warc_ts", "html").mapInArrow(
        fused_extract_udf(cfg), schema=EXTRACTED_SCHEMA
    )


def streaming_dedup_pages(spark: SparkSession, pages_dir: str,
                          watermark: str = "1 hour") -> DataFrame:
    """J9's streaming analogue: re-crawl rows of the same url arriving
    within the watermark collapse to the first-seen row, and the dedup
    state is EVICTED once the watermark passes — memory stays bounded on an
    unbounded crawl stream (the exact latest-per-url semantics of batch J9
    remain a periodic compaction concern; this bounds duplicates online).
    Composes with the fused extractor: dedup -> mapInArrow -> append sink.
    """
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    return stream.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )


def run_available_now(df: DataFrame, out_dir: str, checkpoint_dir: str,
                      mode: str = "append") -> None:
    """Drain everything currently available, then stop (bounded run)."""
    q = (
        df.writeStream.outputMode(mode)
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def sessionize_events(spark: SparkSession, src_dir: str, schema,
                      gap_seconds: int = 600,
                      idle_timeout: bool = True) -> DataFrame:
    """Custom stateful streaming operator (D-series surface): gap-based
    sessionization per user via ``applyInPandasWithState``.

    State = (session_start_epoch, last_seen_epoch, n_events); a new event
    further than `gap_seconds` from last_seen closes the running session and
    emits it. With ``idle_timeout`` a processing-time timeout additionally
    closes idle sessions — note that pending timeouts keep an
    ``availableNow`` query ALIVE until they fire, so bounded drains that
    must self-terminate (the harness key, batch-style backfills) pass
    ``idle_timeout=False``: data-driven closures still emit, open sessions
    stay in state, and the query stops once the files are drained. This is
    the streaming analogue of the batch W2 paragraph-merge sessionization
    (staged.with_paragraphs).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_t = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.LongType()),
        T.StructField("session_end", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ])
    state_t = T.StructType([
        T.StructField("start", T.LongType()),
        T.StructField("last", T.LongType()),
        T.StructField("n", T.LongType()),
    ])

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame([{"user_id": user_id, "session_start": start,
                                 "session_end": last, "n_events": n}])
            return
        ts = []
        for pdf in pdfs:
            ts += [int(t.timestamp()) for t in pdf["ts"]]
        ts.sort()
        closed = []
        start, last, n = state.get if state.exists else (None, None, 0)
        for t in ts:
            if last is not None and t - last > gap_seconds:
                closed.append((start, last, n))
                start, last, n = t, t, 1
            else:
                start = t if start is None else start
                last, n = t, n + 1
        state.update((start, last, n))
        if idle_timeout:
            state.setTimeoutDuration(gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                [{"user_id": user_id, "session_start": s, "session_end": e,
                  "n_events": c} for s, e, c in closed]
            )

    stream = spark.readStream.schema(schema).parquet(src_dir)
    mode = (GroupStateTimeout.ProcessingTimeTimeout if idle_timeout
            else GroupStateTimeout.NoTimeout)
    return stream.groupBy("user_id").applyInPandasWithState(
        fn, out_t, state_t, "append", mode
    )


def snapshot_sink(stream_df: DataFrame, out_dir: str, run_id: str,
                  checkpoint_dir: str) -> int:
    """Exactly-once streaming sink into the snapshot-committed table
    (foreachBatch -> one wave commit per epoch).

    Structured Streaming replays a micro-batch after failure with the SAME
    epoch id; the sink is idempotent against that: an epoch already
    committed under this run_id is skipped outright, and an epoch that
    wrote data but crashed before its manifest commit is invisible to
    snapshot readers (read_snapshot resolves only manifest-listed files)
    and simply overwritten by the replay. Data first, manifest second —
    the same order the batch lineage job uses. Returns the number of
    epochs committed by this invocation; bounded drain via availableNow.
    """
    import os

    from . import snapshots as S

    committed = {
        (m["run_id"], m["wave"]) for m in S.snapshot_history(out_dir)
    }
    n_new = [0]

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if (run_id, int(epoch_id)) in committed:
            return  # replay of a committed epoch: exactly-once no-op
        pdir = os.path.join(
            out_dir, "extracted", f"partition_key={int(epoch_id)}"
        )
        batch_df.write.mode("overwrite").parquet(pdir)
        S.commit_wave_snapshot(out_dir, run_id, int(epoch_id), [int(epoch_id)])
        committed.add((run_id, int(epoch_id)))
        n_new[0] += 1

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_new[0]


def streaming_extract_to_snapshots(spark: SparkSession, pages_dir: str,
                                   out_dir: str, run_id: str,
                                   checkpoint_dir: str,
                                   watermark: str = "2 days",
                                   cfg: ExtractConfig | None = None) -> int:
    """End-to-end continuous ingestion — the streaming analogue of
    incremental.run_incremental_extract: file-source pages stream ->
    within-watermark url dedup (bounded state, evicted as the watermark
    advances) -> the SAME fused Arrow extraction as batch -> exactly-once
    snapshot-committed sink (one wave commit per micro-batch epoch).

    Each availableNow drain consumes only files the checkpoint has not
    seen (O(new files), never O(table)); the dedup state rides the
    checkpoint, so a url recrawled in a LATER drop is still collapsed to
    its first capture while inside the watermark; and a replayed or
    re-triggered drain with no new files commits nothing (epoch
    idempotence in snapshot_sink). Returns epochs committed this drain.
    """
    cfg = cfg or ExtractConfig(dedup=False)
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    deduped = stream.withWatermark(
        "warc_ts", watermark
    ).dropDuplicatesWithinWatermark(["url"])
    extracted = deduped.select("url", "warc_ts", "html").mapInArrow(
        fused_extract_udf(cfg), schema=EXTRACTED_SCHEMA
    )
    return snapshot_sink(extracted, out_dir, run_id, checkpoint_dir)


def streaming_warc_to_snapshots(spark: SparkSession, shards_dir: str,
                                out_dir: str, run_id: str,
                                checkpoint_dir: str,
                                watermark: str = "2 days",
                                cfg: ExtractConfig | None = None) -> int:
    """Continuous CRAWL ingestion: the streaming composition over raw
    WARC/1.0 shards — file-source shard stream -> container extraction
    (warc.warc_pages: HTTP-200 text/html filter, fail-whole per shard) ->
    within-watermark url dedup -> the SAME fused Arrow extraction as
    batch -> exactly-once snapshot-committed sink. Identical guarantees
    to streaming_extract_to_snapshots (O(new files) per drain, bounded
    dedup state, epoch-idempotent replay); the only addition is the
    zero-shuffle container stage in front. This is the shape a live
    crawl-to-corpus pipeline runs at: shards land, records flow, the
    snapshot table is always a consistent prefix."""
    from .warc import warc_pages

    cfg = cfg or ExtractConfig(dedup=False)
    stream = spark.readStream.schema(
        "shard_id long, payload binary"
    ).parquet(shards_dir)
    pages = warc_pages(stream)
    deduped = pages.withWatermark(
        "warc_ts", watermark
    ).dropDuplicatesWithinWatermark(["url"])
    extracted = deduped.select("url", "warc_ts", "html").mapInArrow(
        fused_extract_udf(cfg), schema=EXTRACTED_SCHEMA
    )
    return snapshot_sink(extracted, out_dir, run_id, checkpoint_dir)


def streaming_wat(spark: SparkSession, pages_dir: str, out_dir: str,
                  checkpoint_dir: str) -> dict:
    """Streaming WAT emission: file-source page stream -> the SAME
    zero-shuffle webmeta codegen maps as batch (doc_meta + outlinks) ->
    two append-mode parquet sinks, each with its own checkpoint. The
    transforms are stateless narrow maps, so streaming needs no
    watermark and no state store. Both availableNow queries START
    before either is awaited: they snapshot the same file listing
    instant, so files landing mid-call can skew the two tables by at
    most that startup window (and are picked up by the next drain
    either way — per-table exactly-once is checkpointed). Each drain
    costs O(new files), never O(table): the returned counts come from an
    observe() counter at each plan's tail (the A6 lineage pattern — the
    parquet FileSink itself reports numOutputRows=-1), not a table
    re-scan. An empty or not-yet-created source drains to zero rows, it
    does not error. Batch byte-equality and replay idempotence are gated
    in tests/test_doc_meta.py."""
    import os

    from . import webmeta as WM

    os.makedirs(pages_dir, exist_ok=True)
    stream = spark.readStream.schema("url string, html binary").parquet(
        pages_dir
    )
    queries = []
    for name, df in (("doc_meta", WM.doc_meta(stream)),
                     ("outlinks", WM.outlinks(stream))):
        observed = df.observe(f"wat_{name}", F.count(F.lit(1)).alias("rows"))
        queries.append((name, (
            observed.writeStream.format("parquet")
            .option("path", os.path.join(out_dir, name))
            .option("checkpointLocation", os.path.join(checkpoint_dir, name))
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )))
    counts = {}
    for name, q in queries:
        q.awaitTermination()
        counts[name] = sum(
            p["observedMetrics"][f"wat_{name}"]["rows"]
            for p in q.recentProgress
            if f"wat_{name}" in p.get("observedMetrics", {})
        )
    return counts
