"""Structured Streaming composition of the batch operators.

The reference is strictly batch (SURVEY §2.9) and so is the target's
resumable-snapshot design — but the KG operators compose unchanged under
Structured Streaming because every stage is either a narrow mapInPandas
or a keyed aggregation. This module provides the incremental-crawl shape:

- ``stream_pages``      — file-source stream of page batches;
- ``mention_count_stream`` — watermarked, windowed typed-mention counts
  (late pages beyond the watermark are dropped, the standard late-data
  policy);
- ``incremental_triples`` — foreachBatch driver: each micro-batch runs
  the fused mention stage and the batch link+triples stages and writes
  the triples table, giving exactly-once-per-batch semantics on top of
  the atomic stage committer.

For local smoke tests the memory sink + ``processAllAvailable()`` drives
the whole stream synchronously (no timers).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ops.fused import mentions_from_pages

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def stream_pages(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    """File-source stream over a directory of page parquet files —
    the incremental-crawl source (new WARC dumps land as new files)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def mention_count_stream(
    pages: DataFrame, watermark: str = "1 day", window: str = "7 days"
) -> DataFrame:
    """Watermarked windowed aggregation: typed-mention counts per
    (event-time window, entity_type); late pages past the watermark drop.

    Event time rides THROUGH the fused mention UDF (a stream-stream
    back-join to re-attach it is not allowed outside append mode)."""
    mentions = mentions_from_pages(pages)
    return (
        mentions.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "entity_type")
        .agg(F.count("*").alias("n_mentions"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "entity_type",
            "n_mentions",
        )
    )


DEDUP_OUT_SCHEMA = (
    "host string, url string, warc_ts timestamp, text string, lang string"
)


def first_seen_pages(
    pages: DataFrame,
    watermark: str = "1 day",
    idle_timeout_ms: int = 86_400_000,
    n_shards: int = 256,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: streaming
    exact-dedup — emit only the FIRST occurrence of each url. The batch
    analog is ``dedup.exact_dedup``; a stream needs explicit state because
    "first" spans micro-batches.

    State key = ``(host, shard)`` where ``shard = pmod(xxhash64(url),
    n_shards)``: a url always lands on the same shard, so dedup stays
    exact, but a hot host (wikipedia.org at crawl scale) spreads across
    ``n_shards`` state rows handled by different tasks instead of
    concentrating one multi-GB state value on one executor. Each state
    value holds only its shard's 64-bit md5 digests (deterministic across
    workers/restarts, unlike python ``hash()``), so the per-key state row
    — the unit RocksDB reads + rewrites per update — is bounded by
    ``|host's urls inside the watermark| / n_shards × 8 bytes``, and a
    micro-batch touches only the shards its urls hash to.

    Eviction semantics (explicit, not fine print): a ``(host, shard)`` key
    idle for ``idle_timeout_ms`` past ``max(event-time watermark, the
    key's last event time)`` is evicted (EventTimeTimeout) and its digest
    history FORGOTTEN — a url re-crawled after eviction is re-emitted as
    first-seen. (The event-time anchor matters for the FIRST micro-batch
    of a fresh stream, which runs with watermark 0: anchored to the
    watermark alone, the whole initial backfill's state would evict the
    moment the watermark first advances.) Under eviction the operator
    therefore guarantees at-least-once emission with exactly-once
    *within* any window where the key stays live; downstream writes must
    tolerate replays (the epoch-keyed triple writer does). Size
    ``idle_timeout_ms`` to the re-crawl horizon you need deduped.
    """
    import hashlib

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _digest(url: str) -> int:
        return int.from_bytes(hashlib.md5(url.encode()).digest()[:8], "big", signed=True)

    def dedup_shard(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        seen = set(state.get[0]) if state.exists else set()
        out = []
        max_ts_ms = 0
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                ts = row.warc_ts
                if ts == ts and ts is not None:  # NaT != NaT
                    max_ts_ms = max(max_ts_ms, ts.value // 1_000_000)
                h = _digest(row.url)
                if h in seen:
                    continue
                seen.add(h)
                out.append((row.host, row.url, row.warc_ts, row.text, row.lang))
        state.update((list(seen),))
        # Timeout anchor = max(watermark, this group's max event time).
        # The first micro-batch of a fresh stream runs with watermark 0;
        # anchoring to the watermark alone gives every first-batch key a
        # 1970-epoch timeout, so the ENTIRE initial backfill's dedup state
        # evicts the moment the watermark first advances — found by the
        # 20-epoch soak test (urls from epoch 0 re-emitted in epoch 3).
        # Anchoring to the group's own newest event gives first-batch keys
        # the same idle horizon as every other key, and for live keys it
        # is the more natural idle semantics (idle = no data for this key
        # for idle_timeout past its last event, floored by the watermark).
        # Poison-timestamp clamp (ADVICE r5): a corrupt far-FUTURE warc_ts
        # would otherwise anchor this key's timeout arbitrarily far ahead
        # and its dedup state would never evict. Clamp the event anchor to
        # batch processing time + one idle horizon — normal (historical)
        # event times pass through unchanged, so the watermark-0
        # first-batch behavior the soak test pinned is preserved. The
        # watermark floor stays (a key must never time out behind the
        # watermark).
        bound = state.getCurrentProcessingTimeMs() + idle_timeout_ms
        anchor = max(state.getCurrentWatermarkMs(), min(max_ts_ms, bound))
        timeout = anchor + idle_timeout_ms
        # Monotonicity: an invocation fed only LATE rows (max event time
        # below a previously seen one) must not pull an already-promised
        # timeout earlier.
        prev = state.oldTimeoutTimestamp
        if prev != GroupState.NO_TIMESTAMP:
            timeout = max(timeout, prev)
        state.setTimeoutTimestamp(timeout)
        if out:
            yield pd.DataFrame(out, columns=[
                "host", "url", "warc_ts", "text", "lang"
            ])

    withhost = pages.select(
        F.regexp_extract("url", r"https?://([^/]+)/", 1).alias("host"),
        F.pmod(F.xxhash64("url"), F.lit(n_shards)).alias("shard"),
        "url",
        "warc_ts",
        "text",
        "lang",
    )
    return (
        withhost.withWatermark("warc_ts", watermark)
        .groupBy("host", "shard")
        .applyInPandasWithState(
            dedup_shard,
            outputStructType=DEDUP_OUT_SCHEMA,
            stateStructType="seen array<long>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def incremental_triples(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    checkpoint_dir: str,
    alias_df: DataFrame,
    dedupe: bool = False,
    dedupe_watermark: str = "30 days",
    max_files: int = 4,
) -> "object":
    """foreachBatch incremental pipeline: per micro-batch, run the fused
    mention stage (``mentions_from_pages``) and the batch link+triples
    stages and write the batch's triples into an
    EPOCH-KEYED partition directory with overwrite — foreachBatch is
    at-least-once, so a replayed epoch overwrites its own directory
    instead of appending a duplicate (exactly-once per epoch, the same
    idea as the batch committer's atomic rename). Reads go through the
    top-level directory (``epoch=*`` partitions). The per-batch linking
    caches are unpersisted after each write so a long-running stream does
    not accumulate executor storage. Returns the started StreamingQuery
    (caller stops it).

    ``dedupe=True`` composes :func:`first_seen_pages` in front of the
    batch stages — the full crawl shape: re-crawled urls (duplicates
    across micro-batches, within ``dedupe_watermark``) are dropped by
    the sharded stateful operator BEFORE the mention UDF ever runs, so a
    re-crawl costs one state lookup instead of a full re-extraction, and
    a url's ``mentioned_in`` triples land in exactly one epoch while the
    dedup state holds (see first_seen_pages for the eviction contract).

    Guard: epoch ids come from the streaming checkpoint, so reusing a
    non-empty ``out_dir`` with a FRESH checkpoint would restart epochs at
    0 and silently overwrite a previous run's partitions (and a flat
    append-era layout mixed with ``epoch=*`` dirs breaks partition
    discovery). Starting against existing output without its matching
    checkpoint therefore raises instead of clobbering. The probe resolves
    paths through the Hadoop FileSystem API, so the guard protects
    hdfs:// / s3a:// output directories, not just local ones."""
    from .ops.link import link_mentions
    from .ops.triples import make_triples

    def _nonempty(d: str) -> bool:
        # Spark Connect has no py4j gateway (ADVICE r4): fall back to a
        # local-filesystem probe for plain paths there; remote URIs under
        # Connect get a permissive False (the checkpoint store itself
        # still rejects true cross-run corruption).
        if hasattr(spark, "_jvm") and spark._jvm is not None:
            jvm = spark._jvm
            path = jvm.org.apache.hadoop.fs.Path(d)
            fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
            if not fs.exists(path):
                return False
            return any(
                not st.getPath().getName().startswith((".", "_"))
                for st in fs.listStatus(path)
            )
        local = d[len("file:"):] if d.startswith("file:") else d
        if "://" in local:
            return False
        return os.path.isdir(local) and any(
            not name.startswith((".", "_")) for name in os.listdir(local)
        )

    if _nonempty(out_dir) and not _nonempty(checkpoint_dir):
        raise ValueError(
            f"out_dir {out_dir!r} already has data but checkpoint_dir "
            f"{checkpoint_dir!r} is fresh: epoch ids would restart at 0 and "
            "overwrite prior output. Point at the original checkpoint, or "
            "use a new out_dir."
        )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # foreachBatch hands a LAZY frame, and the link+triple stages run
        # more than one action (the surface-dimension materialization
        # inside link_mentions, then the write). Unpinned, every action
        # re-executes the whole upstream — the sharded stateful dedup AND
        # the mention UDF (the transformer-forward slot, the dominant
        # cost) — once per action. State updates are value-idempotent
        # within a batch version, so results stay right, but the epoch
        # pays the extraction twice and the state store replays its
        # updates. Persisting the mentions frame pins exactly one
        # upstream execution per epoch (the soak test asserts the state
        # store's numRowsTotal stays at the live-key count, which
        # multiplies under re-execution). The batch pipeline gets the
        # same property from its committed stage tables.
        mentions = mentions_from_pages(batch_df).drop("warc_ts").persist()
        cleanup = [mentions]
        try:
            linked = link_mentions(mentions, alias_df, cleanup=cleanup)
            triples = make_triples(linked)
            triples.write.mode("overwrite").parquet(
                f"{out_dir}/epoch={int(epoch_id)}"
            )
        finally:
            for df in cleanup:
                df.unpersist()

    stream = stream_pages(spark, pages_path, max_files=max_files)
    if dedupe:
        stream = first_seen_pages(stream, watermark=dedupe_watermark).drop("host")
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
