"""UDF #2 — span detection (untyped BIOES token tagging).

Reference semantics: the span-detection forward pass
(/root/reference/splitner/model.py:150-321, argmax at :291) consumed
through a QA context per sentence (splitner/dataset_qa.py:309-399), with
labels O/B/I/E/S (splitner/dataset_qa.py:137-150). The model is replaced
by a pluggable ``Scorer`` (SURVEY §7.4): the Spark plan is identical for a
real transformer checkpoint and for the deterministic surrogate used in
tests/bench — only the UDF payload changes.

The surrogate mirrors the reference's *shape features* (word-type classes,
splitner/dataset.py:316-335): a token opens/continues a mention iff its
word shape is capitalized-initial (F/U classes) or mixed alnum starting
uppercase — the same signal the reference feeds its pattern-LSTM.

Scale notes: ``mapInPandas`` so per-executor state (a real model) loads
once per python worker; batch size bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``; pass-through of the
``tokens`` column avoids a re-join with sentences downstream.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .classify import classify_surface

DETECTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("sent_id", T.IntegerType()),
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("labels", T.ArrayType(T.StringType())),
        T.StructField("detect_score", T.DoubleType()),
    ]
)


class DeterministicScorer:
    """Surrogate span detector: BIOES over capitalized-token runs (and the
    rule-based span classifier, for the UDF path of classify_mentions).

    Deterministic, hermetic, and honest: it misses lowercased planted
    mentions (FN) and fires on capitalized fakes (FP) exactly like a
    shape-feature model would. detect_score is a deterministic pseudo-
    confidence (longer runs score higher, like margin over O)."""

    def detect_labels(self, sentences: Iterable[list[str]]) -> list[list[str]]:
        out = []
        for toks in sentences:
            # ASCII A-Z on purpose, NOT str.isupper(): the reference's
            # F/U word-shape classes are ASCII regexes ([A-Z][a-z]+ /
            # [A-Z]+, dataset.py:316-335), so a token like "Ωmega" is NOT
            # capitalized-initial under the contract this surrogate
            # mirrors — and the DuckDB twin's '^[A-Z]' agrees byte-for-
            # byte (divergence found by scripts/fuzz_oracle.py on unicode
            # tokens). Inline, not a helper: one function call per token
            # was ~15% of the fused per-page python wall.
            flags = [bool(t) and "A" <= t[0] <= "Z" for t in toks]
            labels = ["O"] * len(toks)
            i = 0
            n = len(toks)
            while i < n:
                if not flags[i]:
                    i += 1
                    continue
                j = i
                while j + 1 < n and flags[j + 1]:
                    j += 1
                if i == j:
                    labels[i] = "S"
                else:
                    labels[i] = "B"
                    for k in range(i + 1, j):
                        labels[k] = "I"
                    labels[j] = "E"
                i = j + 1
            out.append(labels)
        return out

    def detect_runs(self, toks: list[str]) -> tuple[list[tuple[int, int]], int]:
        """(spans, n_entity_tokens) for ONE sentence — provably equal to
        ``(get_spans_bioes(detect_labels([toks])[0]), #labels != "O")``
        (pinned by tests/test_corpus_fastpath.py): this scorer's labels are
        exactly {S} or {B,I*,E} over each maximal run of capitalized
        tokens, and BIOES assembly of such labels returns each run as one
        span. Skips building the label list and re-parsing it — the fused
        pipeline's per-sentence hot path."""
        spans: list[tuple[int, int]] = []
        nflag = 0
        i = 0
        n = len(toks)
        while i < n:
            t = toks[i]
            if t and "A" <= t[0] <= "Z":
                j = i + 1
                while j < n:
                    t = toks[j]
                    if t and "A" <= t[0] <= "Z":
                        j += 1
                    else:
                        break
                spans.append((i, j - 1))
                nflag += j - i
                i = j + 1
            else:
                i += 1
        return spans, nflag

    def classify_surfaces(self, surfaces: list[str]) -> list[str]:
        """``classify_mentions``' scorer contract over ``classify_surface``."""
        return [classify_surface(s) for s in surfaces]


def detect_spans(sentences: DataFrame, scorer=None) -> DataFrame:
    """sentences(url, sent_id, tokens, ...) → + labels, detect_score."""
    if scorer is None:
        scorer = DeterministicScorer()

    def run(batches):
        # scorer constructed on the driver, shipped once per python worker
        # via closure serialization — the real-model variant would lazily
        # load a checkpoint here instead (once per worker, not per batch).
        for pdf in batches:
            toks = [list(t) for t in pdf["tokens"]]
            labels = scorer.detect_labels(toks)
            score = [
                round(1.0 - 1.0 / (2.0 + sum(1 for x in ls if x != "O")), 6)
                for ls in labels
            ]
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "sent_id": pdf["sent_id"].astype("int32"),
                    "tokens": toks,
                    "labels": labels,
                    "detect_score": score,
                }
            )

    return sentences.select("url", "sent_id", "tokens").mapInPandas(
        run, schema=DETECTED_SCHEMA
    )
