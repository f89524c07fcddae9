"""Tests of the event-log reducer, span attribution and the tracer.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

from spans import NullTracer, Span, Tracer, layer_metrics, reduce_event_log, self_times

HERE = os.path.dirname(os.path.abspath(__file__))


def _fixture_lines() -> list[str]:
    with open(os.path.join(HERE, "fixtures", "eventlog.jsonl")) as fh:
        return list(fh)


def test_counters_summed_per_job_group():
    counters, peaks = reduce_event_log(_fixture_lines())
    m = counters["0/mentions"]
    assert m["jobs"] == 1
    assert m["tasks"] == 3
    assert m["failed_tasks"] == 2
    assert m["executor_cpu_s"] == pytest.approx(2.5)
    assert m["gc_s"] == pytest.approx(0.5)
    assert m["shuffle_write_bytes"] == 1000
    assert m["shuffle_records"] == 10
    assert m["python_bytes"] == 500  # sent + returned, not other SQL metrics
    link = counters["0/link_build"]
    assert (link["jobs"], link["tasks"]) == (1, 1)
    assert link["shuffle_read_bytes"] == 500  # local + remote
    assert link["spill_bytes"] == 50  # disk bytes, not the in-memory size
    # stage 2 was listed again by the triples job but ran under link_build
    tw = counters["0/triples_write"]
    assert (tw["jobs"], tw["tasks"], tw["output_rows"]) == (1, 1, 7)
    assert counters[None]["jobs"] == 1
    assert counters[None]["executor_cpu_s"] == pytest.approx(1.0)
    assert peaks == {"peak_jvm_heap_bytes": 3000, "peak_python_rss_bytes": 500}


def test_large_events_are_not_mistaken_for_tasks():
    counters, _ = reduce_event_log(_fixture_lines())
    assert sum(c["tasks"] for c in counters.values()) == 6


def _iteration(it: int, scale: float, base: int) -> list[Span]:
    """root [0,10]; mentions [1,4] with a footer [3,3.5]; link_build [4,6];
    triples_write [6.5,9] with a footer [8.5,9]; every time times scale."""
    t = lambda x: 100 * it + scale * x  # noqa: E731
    return [
        Span("iteration", it, t(0), t(10)),
        Span("mentions", it, t(1), t(4), parent=base),
        Span("commit_footer", it, t(3), t(3.5), parent=base + 1),
        Span("link_build", it, t(4), t(6), parent=base),
        Span("triples_write", it, t(6.5), t(9), parent=base),
        Span("commit_footer", it, t(8.5), t(9), parent=base + 4),
    ]


def test_self_time_subtracts_children():
    spans = _iteration(0, 1.0, 0)
    assert self_times(spans) == pytest.approx([2.5, 2.5, 0.5, 2.0, 2.0, 0.5])


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span("p", 0, 0.0, 10.0),
        Span("a", 0, 1.0, 5.0, parent=0),
        Span("b", 0, 4.0, 6.0, parent=0),
        Span("c", 0, 9.0, 12.0, parent=0),  # clipped to the parent
    ]
    assert self_times(spans)[0] == pytest.approx(10 - 5 - 1)


def test_layer_metrics_medians_and_unattributed():
    spans = _iteration(0, 1.0, 0) + _iteration(1, 2.0, 6) + _iteration(2, 1.2, 12)
    counters = {
        "0/link_build": {"jobs": 3}, "1/link_build": {"jobs": 5}, "2/link_build": {"jobs": 4},
        "1/unattributed": {"jobs": 1},
    }
    names = ["iteration.wall_s", "unattributed.wall_s", "mentions.wall_s",
             "commit_footer.wall_s", "link_build.jobs", "unattributed.jobs",
             "query.x.wall_s"]
    got = layer_metrics(spans, counters, names)
    assert got == pytest.approx({
        "iteration.wall_s": 12.0,
        "unattributed.wall_s": 3.0,  # 10 - (3 + 2 + 2.5), times 1.2
        "mentions.wall_s": 3.0,
        "commit_footer.wall_s": 1.2,  # both footers of the iteration
        "link_build.jobs": 4,
        "unattributed.jobs": 0,
        "query.x.wall_s": 0,  # a span this workload never opens
    })


class FakeContext:
    def __init__(self):
        self.group = None
        self.calls = []

    def setJobGroup(self, group, description):
        self.group = group
        self.calls.append(group)

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value
        self.calls.append(value)


def test_tracer_sets_and_restores_job_groups():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("ignored"):  # outside an iteration: warm-up, not traced
        pass
    assert tr.spans == [] and sc.calls == []
    with tr.iteration(3):
        assert sc.group == "3/unattributed"
        with tr.span("triples_write"):
            with tr.span("commit_footer"):
                assert sc.group == "3/commit_footer"
            assert sc.group == "3/triples_write"
        assert sc.group == "3/unattributed"
    assert sc.group is None
    assert [(s.name, s.parent) for s in tr.spans] == [
        ("iteration", None), ("triples_write", 0), ("commit_footer", 1)]
    assert all(s.end >= s.start for s in tr.spans)


class Owner:
    @staticmethod
    def footer(path):
        return [(path, 1)]

    def write(self, stage):
        return stage


def test_patched_wraps_and_restores():
    sc = FakeContext()
    tr = Tracer(sc)
    raw_footer, raw_write = Owner.__dict__["footer"], Owner.__dict__["write"]
    with tr.patched([(Owner, "footer", "commit_footer"),
                     (Owner, "write", lambda self, stage: f"w.{stage}")]):
        with tr.iteration(0):
            assert Owner().write("mentions") == "mentions"
            assert Owner().footer("p") == [("p", 1)]
    assert Owner.__dict__["footer"] is raw_footer
    assert Owner.__dict__["write"] is raw_write
    assert [s.name for s in tr.spans] == ["iteration", "w.mentions", "commit_footer"]


def test_null_tracer_records_nothing():
    tr = NullTracer()
    with tr.patched([(Owner, "write", "x")]), tr.iteration(0), tr.span("x"):
        assert Owner().write("s") == "s"


def test_benchmark_json_matches_reported_metrics():
    import run

    sys.path.insert(0, run.ROOT)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == sorted(run.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == ["wall_s", "items_per_s", "setup_s"]
    names = run.per_layer_names()
    assert [m["name"] for m in spec["per_layer"]] == names
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["per_layer"])
    assert len(names) <= 128
