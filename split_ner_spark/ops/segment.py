"""UDF #1 — extract_text + sentence segmentation + whole-word tokenization.

Reference semantics: corpus scan + tokenization of
/root/reference/splitner/dataset.py:149-171 (S1) and the whole-word split
regex of splitner/utils/generate_bio.py:86 (D2), fused into one vectorized
``mapInPandas`` pass (SURVEY §2.10 fixes the UDF surface at four; this is
UDF #1). The output text is the byte-identity surface: tests lock
sha256(extracted_text) per url.

Scale notes: one narrow pass, no shuffle; the regex work happens in
Arrow-batched pandas, ~10-100x faster than row-at-a-time Python UDFs.
Column pruning matters here: when ``text`` is trusted the ``html`` column
is never read (we select only what we need before the UDF).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..reference_impl import (
    TOKEN_RE_JAVA,
    extract_text,
    segment,
    text_sha256,
    tokenize_fast,
)

SENTENCES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("sent_id", T.IntegerType()),
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("sent_text", T.StringType()),
    ]
)

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("text_extracted", T.StringType()),
        T.StructField("text_sha256", T.StringType()),
    ]
)


def extracted_text(pages: DataFrame, use_html: bool = False) -> DataFrame:
    """pages → (url, text_extracted, text_sha256). Byte-identity surface."""
    cols = ["url", "html", "text"] if use_html else ["url", "text"]
    src = pages.select(*cols)

    def run(batches):
        for pdf in batches:
            html = pdf["html"] if "html" in pdf else pd.Series([None] * len(pdf))
            texts = [
                extract_text(h, t)
                for h, t in zip(html, pdf["text"])
            ]
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "text_extracted": texts,
                    "text_sha256": [text_sha256(t) for t in texts],
                }
            )

    return src.mapInPandas(run, schema=EXTRACT_SCHEMA)


def segment_pages(pages: DataFrame) -> DataFrame:
    """English pages → sentences(url, sent_id, tokens, sent_text).

    The ``lang`` filter is applied *before* the UDF so Catalyst pushes it
    into the parquet scan (predicate pushdown) and prunes ``html`` (column
    pruning) — at 100 TB this skips ~8% of pages and the whole binary col.
    """
    src = pages.filter(F.col("lang") == "en").select("url", "text")

    def run(batches):
        for pdf in batches:
            urls, sids, toks_col, texts = [], [], [], []
            for url, text in zip(pdf["url"], pdf["text"]):
                toks = tokenize_fast(extract_text(None, text))
                for sid, sent in enumerate(segment(toks)):
                    urls.append(url)
                    sids.append(sid)
                    toks_col.append(sent)
                    texts.append(" ".join(sent))
            yield pd.DataFrame(
                {
                    "url": urls,
                    "sent_id": pd.Series(sids, dtype="int32"),
                    "tokens": toks_col,
                    "sent_text": texts,
                }
            )

    return src.mapInPandas(run, schema=SENTENCES_SCHEMA)


def tokenize_col(col: F.Column) -> F.Column:
    """Catalyst-native twin of reference_impl.tokenize (no UDF): used by the
    oracle-checkable queries and anywhere the input is already clean text.
    Tests pin equality with the Python reference on adversarial strings."""
    return F.regexp_extract_all(col, F.lit(TOKEN_RE_JAVA), 0)
