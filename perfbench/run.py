"""Benchmark entry point for mqtt2sql_spark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root.  Workloads: ingest_drain and queries (see
NOTES.md for what each measures and why).  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``; per-layer metrics,
from a run with spans, status-tracker counts and the Spark event log,
with ``--trace 1``).  Readable lines before it give every metric with its
unit.  A traced run also writes its spans and a summary, including the
tracing overhead against the last untraced run of the same workload, to
``perfbench/.work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import Run, RssSampler, eventlog_by_group, median  # noqa: E402

WORKLOADS = ("ingest_drain", "queries")


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """The end-to-end and per-layer metrics, name → unit, in the order
    BENCHMARK.json lists them: the one place they are defined."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="mqtt2sql_spark benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mqtt2sql_spark", "__init__.py")):
        print(f"perfbench: no mqtt2sql_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    e2e_units, layer_units = metric_units()

    t_begin = time.time()
    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    inputs = None
    try:
        with RssSampler() as sampler:
            if args.workload == "queries":
                from wl_queries import run_queries as measure, start_inputs
            else:
                from wl_ingest import run_drain as measure, start_inputs
            inputs = start_inputs(run)
            run.start_session()
            sampler.root = run.jvm_pid()
            out = measure(run, inputs)
            run.stop_session()
            peak_mb = sampler.peak_mb
        e2e = {"setup_s": out["setup_end"] - t_begin, **out["e2e"]}
        # a workload that does not exercise a layer reports 0 for it
        layers = dict.fromkeys(layer_units, 0.0)
        layers.update((k, v) for k, v in out["layers"].items() if k in layers)
        layers["session.start_s"] = run.session_start_s
        layers["session.peak_rss_mb"] = peak_mb
        if run.trace:
            for layer, s in run.tracer.self_time_by_layer().items():
                layers[f"{layer}.self_s"] = s
            layers.update((k, v) for k, v in
                          _eventlog_metrics(run, out["groups"]).items()
                          if k in layers)
    finally:
        run.stop_session()
        if hasattr(inputs, "wait"):  # the generator process, if one runs
            inputs.wait()
        run.cleanup()

    check = out["check"]
    metrics = e2e if not run.trace else layers
    units = e2e_units if not run.trace else layer_units
    for name, value in metrics.items():
        print(f"{args.workload}  {name} = {value:.6g} {units[name]}")
    print(f"{args.workload}  correct={check['correct']} "
          f"failed={check['failed']} attempted={check['attempted']}")
    _save(run, args, e2e, layers, out, e2e_units)
    print(json.dumps({
        "correct": bool(check["correct"]),
        "attempted": int(check["attempted"]),
        "failed": int(check["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def _eventlog_metrics(run: Run, groups: dict) -> dict:
    """Median task CPU and shuffle bytes per timed batch or query."""
    by_group = eventlog_by_group(run.eventlog_dir)
    zero = {"task_cpu_s": 0.0, "shuffle_bytes": 0.0}
    out = {}
    batches = [by_group.get(g, zero) for g in groups.get("sinks", ())]
    if batches:
        out["sinks.task_cpu_s_per_batch"] = median(b["task_cpu_s"] for b in batches)
        out["sinks.shuffle_bytes_per_batch"] = median(
            b["shuffle_bytes"] for b in batches)
    for q, gs in groups.get("plans", {}).items():
        vals = [by_group.get(g, zero) for g in gs]
        out[f"plans.{q}.task_cpu_s"] = median(v["task_cpu_s"] for v in vals)
        out[f"plans.{q}.shuffle_bytes"] = median(v["shuffle_bytes"] for v in vals)
    return out


def _save(run, args, e2e, layers, out, e2e_units) -> None:
    """Keep each run's numbers; a traced run also writes its spans and its
    overhead against the latest untraced run of the same workload."""
    base = os.path.join(HERE, ".work", "traces")
    os.makedirs(base, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {"e2e": e2e, "layers": layers, "check": out["check"],
              "notes": out.get("notes", {}), "time": time.time()}
    if run.trace:
        run.tracer.write(os.path.join(base, stem + "-spans.json"))
        untraced = _latest(base, f"{args.workload}-", "-trace0.json")
        if untraced:
            record["tracing_overhead"] = {
                k: e2e[k] - untraced["e2e"][k] for k in e2e
                if k in untraced["e2e"]
            }
            for k, v in record["tracing_overhead"].items():
                print(f"{args.workload}  tracing overhead {k} = {v:+.4g} "
                      f"{e2e_units[k]}")
    with open(os.path.join(base, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)


def _latest(base: str, prefix: str, suffix: str) -> dict | None:
    best = None
    for name in os.listdir(base):
        if name.startswith(prefix) and name.endswith(suffix):
            with open(os.path.join(base, name)) as f:
                rec = json.load(f)
            if best is None or rec["time"] > best["time"]:
                best = rec
    return best


if __name__ == "__main__":
    sys.exit(main())
