"""Structured Streaming composition: the batch operators driven by a
file-source stream, a watermarked windowed agg, and the foreachBatch
incremental pipeline — all driven synchronously via availableNow /
processAllAvailable (no wall-clock timers)."""

from __future__ import annotations

import pytest

from split_ner_spark import corpus, streaming
from split_ner_spark.ops.assemble import assemble_untyped
from split_ner_spark.ops.classify import classify_mentions
from split_ner_spark.ops.detect import detect_spans
from split_ner_spark.ops.segment import segment_pages
from split_ner_spark.pipeline import alias_dim


def _write_page_batches(spark, path: str, n: int = 200) -> None:
    pg = corpus.gen_pages_with_gold(spark, n)
    corpus.pages(pg).repartition(4).write.mode("overwrite").parquet(path)


def test_mention_count_stream(spark, tmp_path):
    src = str(tmp_path / "pages")
    _write_page_batches(spark, src)
    q = (
        streaming.mention_count_stream(streaming.stream_pages(spark, src))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("mention_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM mention_counts").collect()
    finally:
        q.stop()
    assert len(rows) > 0
    types = {r["entity_type"] for r in rows}
    assert "person" in types or "corporation" in types
    # streaming result == batch result on the same data; the batch side
    # is the staged operator chain, composed inline as the reference
    batch = (
        classify_mentions(
            assemble_untyped(detect_spans(segment_pages(spark.read.parquet(src))))
        )
        .groupBy("entity_type")
        .count()
        .collect()
    )
    batch_totals = {r["entity_type"]: r["count"] for r in batch}
    stream_totals: dict[str, int] = {}
    for r in rows:
        stream_totals[r["entity_type"]] = (
            stream_totals.get(r["entity_type"], 0) + r["n_mentions"]
        )
    assert stream_totals == batch_totals


def test_incremental_triples_foreachbatch(spark, tmp_path):
    src = str(tmp_path / "pages")
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")
    _write_page_batches(spark, src)
    q = streaming.incremental_triples(spark, src, out, ckpt, alias_dim(spark))
    q.awaitTermination(120)
    got = spark.read.parquet(out).distinct()
    assert got.count() > 0
    # epoch is the exactly-once partition key; triples are the payload
    assert set(got.columns) == {"subj", "pred", "obj", "epoch"}
    # a replayed epoch must OVERWRITE its own partition, not append dups
    import os

    epochs = [d for d in os.listdir(out) if d.startswith("epoch=")]
    assert epochs, "expected epoch-keyed partition dirs"
    # restart with no new files → no duplicate reprocessing
    n_before = spark.read.parquet(out).count()
    q2 = streaming.incremental_triples(spark, src, out, ckpt, alias_dim(spark))
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_before


def test_first_seen_pages_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState dedup: duplicate urls across micro-batches
    are emitted exactly once (state spans batches)."""
    from datetime import datetime

    src = str(tmp_path / "dup_pages")
    rows1 = [
        (f"https://h{i % 3}.test/p{i}", datetime(2024, 1, 1, i), None,
         f"text {i}", "en")
        for i in range(12)
    ]
    # second batch repeats half the urls and adds new ones
    rows2 = [r for r in rows1[:6]] + [
        (f"https://h{i % 3}.test/q{i}", datetime(2024, 1, 2, i), None,
         f"new {i}", "en")
        for i in range(6)
    ]
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = streaming.stream_pages(spark, src, max_files=1)  # 1 file/batch
    q = (
        streaming.first_seen_pages(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("first_seen")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT url FROM first_seen").collect()
    finally:
        q.stop()
    urls = [r["url"] for r in got]
    assert len(urls) == len(set(urls)), "duplicate url emitted"
    assert len(set(urls)) == 18  # 12 originals + 6 new, repeats dropped


def test_first_seen_pages_hot_host_sharding(spark, tmp_path):
    """Skewed distribution: ALL urls on one host. Dedup must stay exact
    while state spreads over many (host, shard) keys — no single state
    row holds the host's whole digest set."""
    from datetime import datetime

    src = str(tmp_path / "hot_pages")
    rows1 = [
        (f"https://hot.test/p{i}", datetime(2024, 1, 1, i % 24), None,
         f"text {i}", "en")
        for i in range(64)
    ]
    rows2 = rows1[:32] + [
        (f"https://hot.test/q{i}", datetime(2024, 1, 2, i % 24), None,
         f"new {i}", "en")
        for i in range(16)
    ]
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = streaming.stream_pages(spark, src, max_files=1)
    q = (
        streaming.first_seen_pages(stream, n_shards=16)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("first_seen_hot")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT url FROM first_seen_hot").collect()
        state_rows = max(
            (op["numRowsTotal"] for p in q.recentProgress
             for op in p["stateOperators"]),
            default=0,
        )
    finally:
        q.stop()
    urls = [r["url"] for r in got]
    assert len(urls) == len(set(urls)), "duplicate url emitted"
    assert len(set(urls)) == 80  # 64 originals + 16 new
    # the hot host's state is sharded over many keys, not one giant row
    assert state_rows > 4, f"expected sharded state keys, got {state_rows}"


def test_incremental_triples_refuses_fresh_checkpoint_over_data(spark, tmp_path):
    """Reusing a populated out_dir with a cleared checkpoint must raise,
    not silently overwrite epoch 0 of the previous run."""
    import pytest

    src = str(tmp_path / "pages2")
    out = str(tmp_path / "triples2")
    ckpt = str(tmp_path / "ckpt2")
    _write_page_batches(spark, src, n=50)
    q = streaming.incremental_triples(spark, src, out, ckpt, alias_dim(spark))
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() > 0
    with pytest.raises(ValueError, match="fresh"):
        streaming.incremental_triples(
            spark, src, out, str(tmp_path / "ckpt_fresh"), alias_dim(spark)
        )


def test_incremental_triples_with_streaming_dedup(spark, tmp_path):
    """Crawl-shaped composition: first_seen_pages feeds the incremental
    pipeline. A url re-crawled in a later micro-batch must not re-emit
    its triples (its mentioned_in appears in exactly one epoch)."""
    from datetime import datetime

    src = str(tmp_path / "crawl_pages")
    out = str(tmp_path / "crawl_triples")
    ckpt = str(tmp_path / "crawl_ckpt")
    mk = lambda i: (  # noqa: E731
        f"https://site{i % 2}.test/p{i}", datetime(2024, 1, 1, i % 24), None,
        f"Alice Smith visited Paris {i} . the data table", "en",
    )
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    batch1 = [mk(i) for i in range(6)]
    batch2 = [mk(i) for i in range(3)] + [mk(i) for i in range(6, 9)]  # 3 re-crawls
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    alias = spark.createDataFrame(
        [("Alice Smith", "per:alice", "person")],
        "alias string, canonical_id string, entity_type string",
    )
    q = streaming.incremental_triples(
        spark, src, out, ckpt, alias, dedupe=True, max_files=1
    )
    q.awaitTermination(180)
    # with max_files=1 the re-crawls really arrive in a LATER micro-batch
    import os
    epochs = [d for d in os.listdir(out) if d.startswith("epoch=")]
    assert len(epochs) >= 2, epochs
    got = spark.read.parquet(out)
    m = got.filter(got.pred == "mentioned_in").select("obj", "epoch").collect()
    per_url: dict[str, set] = {}
    for r in m:
        per_url.setdefault(r["obj"], set()).add(r["epoch"])
    assert len(per_url) == 9  # 9 distinct urls
    for url, epochs in per_url.items():
        assert len(epochs) == 1, f"{url} emitted in multiple epochs {epochs}"


def test_first_seen_pages_eviction_contract(spark, tmp_path):
    """Executable witness of the documented eviction contract
    (streaming.first_seen_pages): a (host, shard) key idle past
    watermark + idle_timeout is EVICTED — its state row disappears from
    the store — and a url re-crawled after eviction is RE-EMITTED as
    first-seen (at-least-once under eviction, exactly-once while live).
    """
    import time
    from datetime import datetime

    src = str(tmp_path / "evict_pages")
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"

    def write_batch(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(src)
        time.sleep(1.1)  # distinct mtimes → deterministic file-batch order

    # b1: url A on host old.test. (The first batch runs with watermark 0;
    # the timeout anchors to A's event time + idle_timeout = 2024-01-02.)
    write_batch([("https://old.test/a", datetime(2024, 1, 1), None, "t", "en")],
                "overwrite")
    # b2: DUPLICATE of A — refreshes old.test's timeout to
    # max(watermark 2023-12-31, event 2024-01-01T01) + idle_timeout,
    # dropped as a dup
    write_batch([("https://old.test/a", datetime(2024, 1, 1, 1), None, "t", "en")],
                "append")
    # b3: host new.test, event time 5 months later — advances the
    # watermark far past old.test's timeout timestamp at batch end
    write_batch([("https://new.test/b", datetime(2024, 6, 1, 0), None, "t", "en")],
                "append")
    # b4: DUPLICATE of b (no new state key) — this batch runs timeout
    # handling under the advanced watermark: old.test is evicted, so the
    # state-store total visibly DECREASES (2 -> 1)
    write_batch([("https://new.test/b", datetime(2024, 6, 1, 1), None, "t", "en")],
                "append")
    # b5: re-crawl A after eviction — must be re-emitted as first-seen
    write_batch([("https://old.test/a", datetime(2024, 6, 1, 2), None, "t", "en")],
                "append")

    stream = streaming.stream_pages(spark, src, max_files=1)
    q = (
        streaming.first_seen_pages(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("evict_check")
        .start()
    )
    try:
        q.processAllAvailable()
        urls = [r["url"] for r in
                spark.sql("SELECT url FROM evict_check").collect()]
        totals = [op["numRowsTotal"] for p in q.recentProgress
                  for op in p["stateOperators"]]
    finally:
        q.stop()
    # (a) the evicted key's state row was removed: the store shrank in
    # some batch (2 live keys -> 1 at the eviction batch); without
    # eviction the total is monotone non-decreasing
    assert any(b < a for a, b in zip(totals, totals[1:])), (
        f"no state-row removal observed in {totals}"
    )
    # (b) re-crawl after eviction re-emits; the live-window dup did not
    assert urls.count("https://old.test/a") == 2, urls
    assert urls.count("https://new.test/b") == 1, urls


@pytest.mark.slow
def test_incremental_triples_soak_20_epochs(spark, tmp_path):
    """Soak (VERDICT r4 next-round #6): drive the full streaming
    composition — sharded stateful dedup in front of the foreachBatch
    pipeline — through 20 micro-batch epochs IN ONE SESSION and assert
    the two resources that compound in long-lived streams stay flat:

    (a) the SQL cache manager is EMPTY after the run (each epoch's
        linking caches are unpersisted inside ``process``; a per-epoch
        leak would accumulate 20 cached frames here);
    (b) the dedup state store is BOUNDED by the number of live
        (host, shard) keys in the input — it never grows with epochs or
        with re-crawled duplicates;
    and the composition's semantic contract holds across all 20 epochs:
    every re-crawled url's ``mentioned_in`` triples land in exactly one
    epoch while its key stays live."""
    import os

    src = str(tmp_path / "soak_pages")
    out = str(tmp_path / "soak_triples")
    ckpt = str(tmp_path / "soak_ckpt")

    # 200 deterministic pages; batch i carries 10 new pages plus a
    # re-crawl of 5 pages from batch i-3 (dup urls across micro-batches).
    # Event times are rewritten to crawl-realistic MONOTONE batch times:
    # the generator's random warc_ts spans months, which under the 30-day
    # watermark makes most pages late-drop and long-idle keys evict (the
    # contract test above covers that); the soak pins the steady-state
    # live-key regime, so every key must stay inside the watermark.
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    rows = corpus.pages(corpus.gen_pages_with_gold(spark, 200)).collect()

    def at_time(rs, i):
        ts = base + timedelta(hours=i)
        return [(r["url"], ts, r["html"], r["text"], r["lang"]) for r in rs]

    for i in range(20):
        batch = at_time(rows[10 * i : 10 * i + 10], i)
        if i >= 3:
            batch += at_time(rows[10 * (i - 3) : 10 * (i - 3) + 5], i)
        (
            spark.createDataFrame(batch, streaming.PAGES_SCHEMA)
            .coalesce(1)
            .write.mode("append" if i else "overwrite")
            .parquet(src)
        )

    spark.catalog.clearCache()
    q = streaming.incremental_triples(
        spark, src, out, ckpt, alias_dim(spark), dedupe=True, max_files=1
    )
    q.awaitTermination(600)
    state_totals = [
        op["numRowsTotal"] for p in q.recentProgress for op in p["stateOperators"]
    ]

    # 20 single-file batches -> 20 epochs (each batch has new pages)
    epochs = [d for d in os.listdir(out) if d.startswith("epoch=")]
    assert len(epochs) >= 18, f"expected ~20 epoch dirs, got {len(epochs)}"

    # (a) flat cache-manager state after 20 foreachBatch invocations
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "foreachBatch path leaked cached frames across epochs"
    )

    # (b) state rows bounded by live (host, shard) keys ever present
    from pyspark.sql import functions as F

    bound = (
        spark.read.parquet(src)
        .select(
            F.regexp_extract("url", r"https?://([^/]+)/", 1).alias("host"),
            F.pmod(F.xxhash64("url"), F.lit(256)).alias("shard"),
        )
        .distinct()
        .count()
    )
    assert state_totals and max(state_totals) <= bound, (
        f"state store exceeded live-key bound: max {max(state_totals)} > {bound}"
    )

    # exactly-once per url across all 20 epochs despite the re-crawls
    got = spark.read.parquet(out)
    per_url: dict[str, set] = {}
    for r in got.filter(got.pred == "mentioned_in").select("obj", "epoch").collect():
        per_url.setdefault(r["obj"], set()).add(r["epoch"])
    assert len(per_url) >= 150  # most of the 200 pages mention something
    multi = {u: e for u, e in per_url.items() if len(e) != 1}
    assert not multi, f"urls emitted in multiple epochs: {multi}"
