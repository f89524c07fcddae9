"""Fused python pass: corpus-gen → detect → assemble → classify in ONE
``mapInPandas`` stage (the generator emits each page's sentences, so
there is no extract/segment step).

Why this exists: chained ``mapInPandas`` stages each get their OWN python
worker per task, so a 3-deep python chain at ``local[32]`` runs ~96
concurrent python processes — measured 3.3x slow-down vs ``local[8]``
(oversubscription + a JVM↔python Arrow boundary between every pair).
Fusing the per-row python logic into one UDF restores one worker per task
and one Arrow crossing — the python-side analog of whole-stage codegen,
and the reason SURVEY §2.10 fixes the UDF surface to as few boundaries as
possible.

Semantics are IDENTICAL to the staged operators: the generator's
sentences equal ``segment(tokenize_fast(extract_text(text)))`` of the
same page, and the fused body calls the same scorer and classifier
(detect.DeterministicScorer, classify_surface) that the staged Spark
operators are pinned against; tests assert both, and fused == staged
row-for-row.

At a real 100 TB deployment the same fusion applies: the UDF reads
``pages`` rows instead of generating them (swap ``gen`` for the Iceberg
scan), derives each page's sentences from its text (the derivation the
generator's sentences are pinned to), and the two transformer forwards
replace the surrogate scorer inside the single worker.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import corpus
from .classify import classify_surface
from .detect import DeterministicScorer

MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("sent_id", T.IntegerType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("surface", T.StringType()),
        T.StructField("detect_score", T.DoubleType()),
        T.StructField("entity_type", T.StringType()),
    ]
)


def _mentions_for_page(page: dict, scorer: DeterministicScorer) -> list[tuple]:
    if page["lang"] != "en":
        return []
    # sentences come straight from the generator
    # (corpus._gen_page(mentions_only=True) — pinned equal to
    # segment∘tokenize_fast∘extract_text of the page text)
    sents = page["sents"]
    out = []
    url = page["url"]
    # detect_runs == get_spans_bioes(detect_labels(...)) + non-O count
    # (pinned by tests/test_corpus_fastpath.py); a sentence with no span
    # emits nothing, so its score is never observable.
    _runs = scorer.detect_runs
    for sid, sent in enumerate(sents):
        spans, nflag = _runs(sent)
        if not spans:
            continue
        score = round(1.0 - 1.0 / (2.0 + nflag), 6)
        for s, e in spans:
            surface = sent[s] if s == e else " ".join(sent[s : e + 1])
            out.append(
                (url, sid, s, e, surface, score, classify_surface(surface))
            )
    return out


def fused_mentions(
    spark: SparkSession,
    n_pages: int,
    seed: int = corpus.SEED,
) -> DataFrame:
    """Synthetic corpus → typed mentions in one python stage.

    Row-identical to ``classify_mentions(assemble_untyped(detect_spans(
    segment_pages(corpus.pages(gen)))))`` (pinned by tests)."""
    registry = corpus.build_registry(seed)
    # Tasks sized by work, not by cores alone (corpus.generator_partitions):
    # each Python task pays ~0.2 s fixed outside this body, and the body
    # costs ~84 µs per page. Once tasks carry enough pages they are split
    # 4 waves deep, because with one wave the slowest task sets the wall
    # (measured ~20% straggler tail): 128 tasks at 20M pages on local[32].
    # A small run keeps one wave: at 5,000 pages on 4 cores a task does
    # ~26 ms of work, and 4 waves paid ~0.8 s of fixed cost per core.
    partitions = corpus.generator_partitions(
        n_pages, spark.sparkContext.defaultParallelism
    )
    scorer = DeterministicScorer()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for pid in pdf["id"].tolist():
                page = corpus._gen_page(pid, registry, seed, mentions_only=True)
                rows.extend(_mentions_for_page(page, scorer))
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "sent_id", "start", "end", "surface",
                    "detect_score", "entity_type",
                ],
            )

    ids = spark.range(0, n_pages, 1, partitions)
    return ids.mapInPandas(run, schema=MENTIONS_SCHEMA)

