#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload er_code --seed 1 --seconds 10 --trace 0

Run from the repository root.  Set-up (session start, input load, a warm-up
pass on another seed) is timed apart from the measured window; the window
runs the workload's unit of work untraced until ``--seconds`` have passed.
With ``--trace 1`` one traced pass follows the window and the per-layer
metrics are reported instead of the end-to-end ones.  Every unit's output is
checked against invariants, against the run's other units and against
``expected.json``; the last stdout line is the JSON result.  See
perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "healthcare_entity_resolution_spark"
# named for claims: tuning used seeds 1-20; confirm a claimed gain on this one
HELD_OUT_SEED = 9973
SETUP_REPS = 3
EXPECTED = os.path.join(HERE, "expected.json")


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def tree_mem_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants, as the sum
    of their proportional set sizes: pages a fork or a spawn shares between
    processes count once, not once per process."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(line.split()[1]) for line in f
                                 if line.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            pass  # the process ended between the two reads
    return total_kb / 1024


class PeakRss(threading.Thread):
    """Samples the process tree's resident memory until stopped."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.peak = max(self.peak, tree_mem_mb(os.getpid()))

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=10)
        return self.peak


def start_session(run_dir: str, trace: bool):
    from healthcare_entity_resolution_spark.session import get_spark

    heap_mb = max(1024, host_mem_mb() // 8)
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            # the default zstd codec needs the zstandard module, not installed here
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + events,
        })
    spark = get_spark(app_name="perfbench", cores=len(os.sched_getaffinity(0)),
                      extra_conf=conf)
    spark.sparkContext.setCheckpointDir(os.path.join(run_dir, "ckpt"))
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


@contextmanager
def bench_session(trace: bool):
    """A Spark session whose files all live in a run directory of the
    checkout; yields a dict with ``spark``, ``run_dir`` and ``session_s``.
    A caller that needs the session's files after it ends (the event log)
    stops it with ``stop_session(s.pop("spark"))``; the session is stopped
    and the directory removed on the way out."""
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    for sub in ("tmp", "local", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    # everything the session, its JVM and its Python workers write stays
    # inside the run directory, and the workers can import the package
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]
    s = {"run_dir": run_dir}
    try:
        t0 = time.perf_counter()
        s["spark"] = start_session(run_dir, trace)
        s["session_s"] = time.perf_counter() - t0
        yield s
    finally:
        if s.get("spark") is not None:
            stop_session(s["spark"])
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


def load_expected() -> dict:
    """workload -> seed -> the ``check`` its output must reproduce."""
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f)


def problems_of(unit, ref, expected) -> list[str]:
    """Why a unit's output is wrong: a broken invariant, or a check that
    differs from the run's first unit or from ``expected.json``."""
    out = list(unit.problems)
    if ref is not None and unit.check != ref:
        out.append(f"output {unit.check} differs from the run's first {ref}")
    if expected is not None and unit.check != expected:
        out.append(f"output {unit.check} differs from expected.json {expected}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("er_code", "curate_docs"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    # a terminated run still stops the JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rss = PeakRss()
    rss.start()
    try:
        with bench_session(bool(args.trace)) as s:
            result = measure(s["spark"], args, s["run_dir"], s["session_s"], rss)
            stop_session(s.pop("spark"))
            if "_trace" in result:
                from tracing import group_task_metrics

                result["metrics"] = layer_metrics(
                    result.pop("_trace"),
                    group_task_metrics(os.path.join(s["run_dir"], "events")))
    finally:
        rss.stop()
    names = [m for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [m["name"] for m in names if result["metrics"].get(m["name"]) is None]
    if missing:
        print(f"perfbench: no value for {missing}; result: {result}", file=sys.stderr)
        return 1
    result["metrics"] = {
        m["name"]: {"value": result["metrics"][m["name"]], "unit": m["unit"]}
        for m in names
    }
    print(json.dumps(result))
    return 0


def measure(spark, args, run_dir, session_s, rss) -> dict:
    from workloads import WARM_SEED_OFFSET, WORKLOADS

    cls = WORKLOADS[args.workload]
    work = os.path.join(run_dir, "work")

    # the warm-up comes first so that the JVM's and the Python workers'
    # first-use costs land in it, not in the repeated load
    t = time.perf_counter()
    warm = cls(spark, args.seed + WARM_SEED_OFFSET, work_dir=work, **cls.WARM)
    warm.load()
    warm.prepare()
    for _ in range(cls.WARM_PASSES):
        warm.run()
    warm_s = time.perf_counter() - t
    load_s = []
    for _ in range(SETUP_REPS):
        spark.catalog.clearCache()
        t = time.perf_counter()
        w = cls(spark, args.seed, work_dir=work)
        w.load()
        load_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    w.prepare()
    prepare_s = time.perf_counter() - t
    setup_s = session_s + warm_s + statistics.median(load_s) + prepare_s
    print(f"setup: session {session_s:.3f} s, warm-up {warm_s:.3f} s, load "
          f"{', '.join('%.3f' % x for x in load_s)} s, prepare {prepare_s:.3f} s")

    expected = load_expected().get(args.workload, {}).get(str(args.seed))
    attempted = failed = 0
    samples: list[float] = []
    ref = quality = None
    t0 = time.perf_counter()
    while attempted == 0 or time.perf_counter() - t0 < args.seconds:
        attempted += 1
        try:
            unit = w.run(with_quality=quality is None)
        except Exception:
            traceback.print_exc()
            failed += 1
            continue
        if quality is None:
            quality = unit.extra.get("quality")
        problems = problems_of(unit, ref, expected)
        if ref is None:
            ref = unit.check
            print("check: " + json.dumps(ref, sort_keys=True)
                  + ("" if expected is None else " (seed in expected.json)"))
        if problems:
            print(f"perfbench: wrong output: {problems}", file=sys.stderr)
            failed += 1
            continue
        samples.extend(unit.samples)

    result = {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}
    if not samples:
        return result
    report(args.workload, samples, quality, setup_s, failed, attempted)

    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark, os.path.join(run_dir, "ckpt"))
        attempted += 1
        try:
            with tracer.instrument():
                unit = w.run_traced(tracer)
            problems = problems_of(unit, ref, expected)
        except Exception:
            traceback.print_exc()
            problems, unit = ["traced pass raised"], None
        if problems:
            print(f"perfbench: wrong traced output: {problems}", file=sys.stderr)
            failed += 1
        result["_trace"] = trace_summary(tracer, unit, samples, spark)
    result.update(attempted=attempted, failed=failed,
                  correct=failed == 0 and quality is not None and quality >= cls.QUALITY_FLOOR)
    result["metrics"] = {
        "setup_s": setup_s,
        "wall_s": statistics.median(samples),
        "peak_rss_mb": max(rss.peak, tree_mem_mb(os.getpid())),
        "quality_f1": quality,
    }
    return result


def report(workload, samples, quality, setup_s, failed, attempted):
    """Human-readable lines under the per-workload metric names; the JSON
    result follows on the last line."""
    name = "er" if workload == "er_code" else "curate"
    print(f"{name}.wall_s={statistics.median(samples):.3f} s (median, n={len(samples)}; "
          f"all: {', '.join('%.3f' % x for x in samples)})")
    qname = "er.pairwise_f1" if workload == "er_code" else f"{workload}.dedup_f1"
    print(f"{qname}={quality:.4f}  setup_s={setup_s:.3f} s  "
          f"ops_failed_frac={failed / attempted:.4f} ({failed}/{attempted})")


def trace_summary(tracer, unit, samples, spark) -> dict:
    """What the per-layer metrics need from the live session."""
    return dict(
        self_s=tracer.self_seconds(),
        covered_s=tracer.covered_seconds(unit.extra["t0"]) if unit else 0.0,
        total_s=unit.samples[0] if unit else None,
        untraced_s=statistics.median(samples),
        extra=unit.extra if unit else {},
        counts=dict(tracer.counts),
        hot_blocks=tracer.lineage_sum("blocking.salting", "hot_blocks"),
        pairs_dropped=tracer.lineage_sum("blocking.salting", "pairs_dropped"),
        iterations=tracer.lineage_sum("cc.converged", "iterations")
        + tracer.lineage_sum("cc.max_iterations_hit", "iterations"),
        components_ckpt_mb=tracer.span_ckpt_mb("components"),
        ckpt_mb=sum(s["ckpt_mb"] for s in tracer.spans if s["parent"] is None),
        groups={k: (sorted(j), sorted(s)) for k, (j, s) in tracer.jobs_and_stages().items()},
        cores=spark.sparkContext.defaultParallelism,
    )


def layer_metrics(tr: dict, task: dict) -> dict:
    """Per-layer metrics of the traced pass; a layer the workload does not
    run reads 0."""
    from tracing import sum_groups

    if tr["total_s"] is None:
        return {}
    groups, counts, self_s = tr["groups"], tr["counts"], tr["self_s"]

    def ids(names, i):
        return set().union(*(groups.get(n, ([], []))[i] for n in names))

    def s(name):
        return self_s.get(name, 0.0)

    blocking = ("blocking.keys", "blocking.pairs")
    every = list(groups)
    bt, sc, near = (sum_groups(task, blocking), sum_groups(task, ["scoring"]),
                    sum_groups(task, ["dedup.near"]))
    probe = ["dedup_index.query"]
    pt, allt = sum_groups(task, probe), sum_groups(task, every)
    score_s = s("scoring")
    extra = tr["extra"]
    return {
        "normalize.s": s("normalize"),
        "normalize.jobs": len(ids(["normalize"], 0)),
        "normalize.rows_out": counts.get("normalize_rows", 0),
        "blocking.keys_s": s("blocking.keys"),
        "blocking.pairs_s": s("blocking.pairs"),
        "blocking.jobs": len(ids(blocking, 0)),
        "blocking.stages": len(ids(blocking, 1)),
        "blocking.shuffle_write_mb": bt["shuffle_write_mb"],
        "blocking.exec_run_s": bt["run_s"],
        "blocking.exec_cpu_s": bt["cpu_s"],
        "blocking.pairs_out": counts.get("pairs_out", 0),
        "blocking.hot_blocks": tr["hot_blocks"],
        "blocking.pairs_dropped": tr["pairs_dropped"],
        "scoring.s": score_s,
        "scoring.jobs": len(ids(["scoring"], 0)),
        "scoring.shuffle_read_mb": sc["shuffle_read_mb"],
        "scoring.exec_run_s": sc["run_s"],
        "scoring.exec_cpu_s": sc["cpu_s"],
        "scoring.core_util": sc["run_s"] / (score_s * tr["cores"]) if score_s else 0.0,
        "scoring.pairs_per_s": counts.get("scored_pairs", 0) / score_s if score_s else 0.0,
        "components.s": s("components"),
        "components.jobs": len(ids(["components"], 0)),
        "components.stages": len(ids(["components"], 1)),
        "components.iterations": tr["iterations"],
        "components.ckpt_mb": tr["components_ckpt_mb"],
        "pipeline.exact_dedup_s": s("pipeline.exact_dedup"),
        "pipeline.entities_s": s("pipeline.entities"),
        "dedup.exact_s": s("dedup.exact"),
        "dedup.near_s": s("dedup.near"),
        "dedup.near_jobs": len(ids(["dedup.near"], 0)),
        "dedup.near_shuffle_mb": near["shuffle_write_mb"],
        "dedup.near_pairs": counts.get("near_pairs", 0),
        "textstats.s": s("textstats"),
        "redact.s": s("redact"),
        "decontaminate.s": s("decontaminate"),
        "dedup_index.build_s": s("dedup_index.build"),
        "dedup_index.jobs": len(ids(probe, 0)),
        "dedup_index.exec_run_s": pt["run_s"],
        "dedup_index.files": extra.get("files", 0),
        "dedup_index.mb": extra.get("mb", 0.0),
        "spark.jobs": len(ids(every, 0)),
        "spark.stages": len(ids(every, 1)),
        "spark.tasks": allt["tasks"],
        "spark.gc_s": allt["gc_s"],
        "spark.spill_mb": allt["spill_mb"],
        "spark.ckpt_mb": tr["ckpt_mb"],
        "trace.overhead_s": tr["total_s"] - tr["untraced_s"],
        "trace.coverage": tr["covered_s"] / tr["total_s"],
    }


if __name__ == "__main__":
    sys.exit(main())
