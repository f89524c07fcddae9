"""E1/E2 — mention-level evaluation as joins + aggregates.

Reference semantics:
- TP/FP/FN matching = exact-equality set membership of Span keys per
  sentence (/root/reference/splitner/analysis.py:41-49,
  evaluator.py:28-39) → semi/anti equi-joins on the full span key;
- micro F1 = P/R/F1 over summed counts, macro F1 = mean of per-tag F1,
  with epsilon placement exactly as analysis.py:54-74 (eps=1e-7) /
  evaluator.py:171-199 (eps=1e-9). The epsilon lives in the DENOMINATOR
  of each ratio, and macro divides by (n_tags + eps).

All Catalyst: hash semi/anti joins + partial/final hash aggregation; no
Python in the hot path. The same operator scores both pipeline stages
(detect-only via untyped keys, classify via typed keys) — the reference
does this with its --span_based relabel (analysis.py:387-397).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EPS_ANALYSIS = 1e-7  # analysis.py:54-56


def f1_report(
    pred: DataFrame, gold: DataFrame, keys: list[str], tag_col: str = "entity_type"
) -> DataFrame:
    """Exact span matching → per-tag + '__micro__' + '__macro__' rows of
    (tag, tp, fp, fn, p, r, f1), reference epsilon math.

    TP/FP/FN in one shuffle: full-outer join on the span key (tag included
    in the key — a type mismatch is FP+FN, as in the reference's exact
    Span equality, evaluator.py:119-133). Micro sums counts first
    (analysis.py:50-56); macro averages per-tag F1 over (n_tags + eps)
    (analysis.py:73)."""
    k = keys + [tag_col]
    p = pred.select(*k).distinct().withColumn("_p", F.lit(1))
    g = gold.select(*k).distinct().withColumn("_g", F.lit(1))
    j = p.join(g, k, "full_outer")
    counts = j.groupBy(F.col(tag_col).alias("tag")).agg(
        F.sum(F.when(F.col("_p").isNotNull() & F.col("_g").isNotNull(), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("_p").isNotNull() & F.col("_g").isNull(), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("_p").isNull() & F.col("_g").isNotNull(), 1).otherwise(0)).alias("fn"),
    )
    eps = EPS_ANALYSIS
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    pr = tp * 1.0 / (tp + fp + F.lit(eps))
    rc = tp * 1.0 / (tp + fn + F.lit(eps))
    f1 = F.lit(2.0) * pr * rc / (pr + rc + F.lit(eps))
    per_tag = counts.select(
        "tag", "tp", "fp", "fn", pr.alias("p"), rc.alias("r"), f1.alias("f1")
    )
    micro = counts.agg(
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn")
    ).select(
        F.lit("__micro__").alias("tag"), "tp", "fp", "fn",
        pr.alias("p"), rc.alias("r"), f1.alias("f1"),
    )
    # reference macro ranges over tags present in GOLD (tp∪fn keys,
    # analysis.py:60-62); FP-only tags count in micro but not macro.
    # Order-independent: fold the SORTED per-tag f1 list so the sum order
    # is deterministic (a plain sum() folds in partition order).
    macro = (
        per_tag.filter((F.col("tp") + F.col("fn")) > 0)
        .agg(
            (
                F.aggregate(
                    F.array_sort(F.collect_list("f1")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.count("*") + F.lit(eps))
            ).alias("f1")
        )
        .select(
            F.lit("__macro__").alias("tag"),
            F.lit(None).cast("long").alias("tp"),
            F.lit(None).cast("long").alias("fp"),
            F.lit(None).cast("long").alias("fn"),
            F.lit(None).cast("double").alias("p"),
            F.lit(None).cast("double").alias("r"),
            "f1",
        )
    )
    return per_tag.unionByName(micro).unionByName(macro)


def triple_pr(emitted: DataFrame, golden: DataFrame) -> dict:
    """Exact (subj, pred, obj) match — the BASELINE.json P/R≥0.95 gate."""
    k = ["subj", "pred", "obj"]
    e = emitted.select(*k).distinct()
    g = golden.select(*k).distinct()
    tp = e.join(g, k, "left_semi").count()
    n_e = e.count()
    n_g = g.count()
    p = tp / n_e if n_e else 0.0
    r = tp / n_g if n_g else 0.0
    return {
        "tp": tp,
        "emitted": n_e,
        "golden": n_g,
        "precision": p,
        "recall": r,
        "f1": 2 * p * r / (p + r) if (p + r) else 0.0,
    }
