"""Self-tests of the benchmark.  Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

The last test runs the traced ``er_code`` workload once (about 2 min).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _notes_table() -> dict[str, tuple[str, str]]:
    """metric -> (unit, workloads) from the tables in NOTES.md."""
    rows = {}
    with open(os.path.join(HERE, "NOTES.md")) as f:
        for line in f:
            m = re.match(r"\|\s*`([\w.]+)`\s*\|\s*([^|]+?)\s*\|\s*([^|]+?)\s*\|", line)
            if m:
                rows[m.group(1)] = (m.group(2), m.group(3))
    return rows


def test_event_log_parser_sums_task_metrics_per_job_group():
    from tracing import event_log_files, group_task_metrics

    log = os.path.join(HERE, "fixtures")
    assert [os.path.basename(p) for p in event_log_files(log)] == [
        "events_1_local-1", "events_2_local-1"]
    got = group_task_metrics(log)
    # stage 1 is listed by both jobs: it belongs to the first, so the
    # ungrouped stage 3 is dropped and scoring keeps only stage 2
    assert set(got) == {"blocking.pairs", "scoring"}
    b, s = got["blocking.pairs"], got["scoring"]
    assert b["tasks"] == 2 and s["tasks"] == 1
    assert b["run_s"] == pytest.approx(2.0) and b["cpu_s"] == pytest.approx(1.25)
    assert b["gc_s"] == pytest.approx(0.1)
    assert b["shuffle_write_mb"] == pytest.approx(1.0)
    assert b["shuffle_read_mb"] == pytest.approx(1.0)
    assert b["spill_mb"] == pytest.approx(1.0)
    assert s["shuffle_read_mb"] == pytest.approx(2.0) and s["cpu_s"] == pytest.approx(0.5)


def test_every_metric_is_declared_with_its_unit_and_workloads():
    workloads = {w["name"] for w in SPEC["workloads"]}
    table = _notes_table()
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert m["name"] in table, f"{m['name']} missing from NOTES.md"
        unit, where = table[m["name"]]
        assert unit == m["unit"], m["name"]
        named = {w.strip() for w in where.split(",")}
        assert named == {"all"} or named <= workloads, (m["name"], named)


def test_layer_metrics_emit_exactly_the_declared_names():
    summary = dict(
        self_s={"scoring": 2.0}, covered_s=1.0, total_s=1.0, untraced_s=1.0,
        extra={}, counts={"scored_pairs": 10}, hot_blocks=0, pairs_dropped=0,
        iterations=3, components_ckpt_mb=0.0, ckpt_mb=0.0, cores=4,
        groups={"scoring": ([1, 2], [5])},
    )
    task = {"scoring": {"tasks": 4, "run_s": 4.0, "cpu_s": 3.0, "gc_s": 0.0,
                        "shuffle_read_mb": 1.0, "shuffle_write_mb": 0.0,
                        "spill_mb": 0.0}}
    got = run.layer_metrics(summary, task)
    assert set(got) == {m["name"] for m in SPEC["per_layer"]}
    assert got["scoring.core_util"] == pytest.approx(0.5)
    assert got["scoring.pairs_per_s"] == pytest.approx(5.0)
    assert got["scoring.jobs"] == 2 and got["normalize.s"] == 0.0


def test_seed_is_required_and_a_held_out_seed_is_named():
    with pytest.raises(SystemExit):
        run.main(["--workload", "er_code", "--seconds", "1"])
    notes = open(os.path.join(HERE, "NOTES.md")).read()
    assert f"held-out seed {run.HELD_OUT_SEED}" in notes


def test_partition_check_catches_split_and_merged_clusters():
    from workloads import _same_partition

    ids = ["a", "b", "c", "d"]
    links = [("a", "b"), ("b", "c")]
    assert _same_partition(ids, {"a": 1, "b": 1, "c": 1, "d": 2}, links)
    assert not _same_partition(ids, {"a": 1, "b": 1, "c": 3, "d": 2}, links)
    assert not _same_partition(ids, {"a": 1, "b": 1, "c": 1, "d": 1}, links)
    assert not _same_partition(ids, {"a": 1, "b": 1, "c": 1, "d": 2}, [("a", "x")])


def test_expected_checks_cover_the_held_out_seed_of_every_workload():
    expected = run.load_expected()
    for w in SPEC["workloads"]:
        assert str(run.HELD_OUT_SEED) in expected[w["name"]], w["name"]


def test_a_check_that_differs_from_expected_is_a_problem():
    from workloads import Unit

    unit = Unit([1.0], {"matches": 3})
    assert run.problems_of(unit, None, {"matches": 3}) == []
    assert run.problems_of(unit, None, {"matches": 4})
    assert run.problems_of(unit, {"matches": 2}, None)
    assert run.problems_of(Unit([1.0], {}, ["broken"]), None, None) == ["broken"]


def test_traced_er_code_covers_the_pass_and_checks_out():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_code",
         "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in SPEC["per_layer"]}
    assert metrics["trace.coverage"]["value"] >= 0.95
    assert metrics["scoring.jobs"]["value"] > 0
    # at this size salting splits hot blocks on every seed tried
    assert metrics["blocking.hot_blocks"]["value"] > 0
    assert metrics["blocking.pairs_dropped"]["value"] > 0
