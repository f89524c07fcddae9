"""Multimodal-column plumbing: the synthetic asset table is a pure
function of the asset id, whatever the partitioning."""

from __future__ import annotations

from split_ner_spark.ops import multimodal


def test_synth_assets_deterministic_across_partitioning(spark):
    a = multimodal.synth_assets(spark, 60, partitions=2).collect()
    b = multimodal.synth_assets(spark, 60, partitions=7).collect()
    key = lambda r: r["asset_id"]  # noqa: E731
    assert sorted(map(str, a)) == sorted(map(str, b))
    kinds = {r["kind"] for r in a}
    assert kinds == {"image", "audio", "video"}
    img = next(r for r in sorted(a, key=key) if r["kind"] == "image")
    assert img["meta"]["mime"] == "image/png"
    assert img["meta"]["width"] is not None and img["meta"]["duration_ms"] is None
