"""W3 — span assembly from token-level tags (the sessionization operator).

Reference semantics:
- untyped BIOES assembly: /root/reference/splitner/evaluator.py:59-116
  (specialized to the QA detect labels O/B/I/E/S of dataset_qa.py:137-150);
- typed BIO assembly with the ``can_continue`` guard:
  /root/reference/splitner/analysis.py:77-91.

Implementation: a *shuffle-free* per-sentence fold using Spark's
``aggregate`` higher-order function over the token array — a sentence
always fits in one row (max_seq_len ≤ 512, reference
additional_args.py:35), so no window shuffle is ever needed. This is the
plan that survives 100 TB: the operator is embarrassingly parallel, stays
inside WholeStageCodegen, and only the downstream ``explode`` changes
cardinality. The classic window-sessionization formulation (running sum of
span-starts) is what the DuckDB oracle uses to cross-check it.

Python oracle twin: reference_impl.get_spans_bioes / get_spans_bio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# fold state: open span [cur..last]; cur = -1 means no open span.
# NB: the size guard matters — sequence(0, -1) DESCENDS in Spark, so an
# empty label array would otherwise index into nothing.
_SPANS_BIOES_EXPR = """
IF(size(labels) < 1, cast(array() as array<struct<start:int,end:int>>),
aggregate(
  sequence(0, size(labels) - 1),
  named_struct('spans', cast(array() as array<struct<start:int,end:int>>),
               'cur', -1, 'last', -1),
  (acc, i) -> CASE
    WHEN element_at(labels, i + 1) = 'B' THEN named_struct(
      'spans', IF(acc.cur >= 0,
                  array_append(acc.spans, named_struct('start', acc.cur, 'end', acc.last)),
                  acc.spans),
      'cur', i, 'last', i)
    WHEN element_at(labels, i + 1) = 'S' THEN named_struct(
      'spans', array_append(
        IF(acc.cur >= 0,
           array_append(acc.spans, named_struct('start', acc.cur, 'end', acc.last)),
           acc.spans),
        named_struct('start', i, 'end', i)),
      'cur', -1, 'last', -1)
    WHEN element_at(labels, i + 1) = 'I' AND acc.cur >= 0 AND acc.last = i - 1
      THEN named_struct('spans', acc.spans, 'cur', acc.cur, 'last', i)
    WHEN element_at(labels, i + 1) = 'E' AND acc.cur >= 0 AND acc.last = i - 1
      THEN named_struct(
        'spans', array_append(acc.spans, named_struct('start', acc.cur, 'end', i)),
        'cur', -1, 'last', -1)
    ELSE named_struct(
      'spans', IF(acc.cur >= 0,
                  array_append(acc.spans, named_struct('start', acc.cur, 'end', acc.last)),
                  acc.spans),
      'cur', -1, 'last', -1)
  END,
  acc -> IF(acc.cur >= 0,
            array_append(acc.spans, named_struct('start', acc.cur, 'end', acc.last)),
            acc.spans)
))
"""

# typed BIO with can_continue (analysis.py:77-91): B-X opens (can=true);
# I-X extends the last span iff type matches AND can; else can=false.
_SPANS_BIO_EXPR = """
IF(size(tags) < 1, cast(array() as array<struct<tag:string,start:int,end:int>>),
aggregate(
  sequence(0, size(tags) - 1),
  named_struct('spans', cast(array() as array<struct<tag:string,start:int,end:int>>),
               'can', false),
  (acc, i) -> CASE
    WHEN element_at(tags, i + 1) LIKE 'B-%' THEN named_struct(
      'spans', array_append(acc.spans,
        named_struct('tag', substring(element_at(tags, i + 1), 3),
                     'start', i, 'end', i)),
      'can', true)
    WHEN element_at(tags, i + 1) LIKE 'I-%' AND acc.can AND size(acc.spans) > 0
         AND element_at(acc.spans, -1).tag = substring(element_at(tags, i + 1), 3)
      THEN named_struct(
        'spans', array_append(slice(acc.spans, 1, size(acc.spans) - 1),
          named_struct('tag', element_at(acc.spans, -1).tag,
                       'start', element_at(acc.spans, -1).start,
                       'end', i)),
        'can', acc.can)
    ELSE named_struct('spans', acc.spans, 'can', false)
  END,
  acc -> acc.spans
))
"""


def spans_bioes_col() -> F.Column:
    """Spans of the ``labels`` column (BIOES)."""
    return F.expr(_SPANS_BIOES_EXPR)


def spans_bio_col() -> F.Column:
    """Typed spans of the ``tags`` column (BIO)."""
    return F.expr(_SPANS_BIO_EXPR)


def _surface_col() -> F.Column:
    return F.array_join(
        F.slice(F.col("tokens"), F.col("start") + 1, F.col("end") - F.col("start") + 1),
        " ",
    ).alias("surface")


def assemble_untyped(detected: DataFrame) -> DataFrame:
    """detected(url, sent_id, tokens, labels, detect_score) →
    mentions_untyped(url, sent_id, start, end, surface, detect_score).
    FIXTURES.md F4 shape."""
    return (
        detected.withColumn("span", F.explode(spans_bioes_col()))
        .select(
            "url",
            "sent_id",
            "tokens",
            F.col("span.start").alias("start"),
            F.col("span.end").alias("end"),
            "detect_score",
        )
        .select("url", "sent_id", "tokens", "start", "end", _surface_col(), "detect_score")
    )
