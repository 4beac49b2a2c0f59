"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest_query|stream_index|batch_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's inputs from the
seed, runs it, checks its outputs and prints, as the last stdout line,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it carries the full record (every named metric, box
context, correctness problems); the same record and, when traced, the
spans are written under ``.perfbench_out/``. Exits non-zero, printing
no result, when the engine is not importable.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    ROOT,
    Result,
    MemSampler,
    Tracer,
    box_context,
    cpu_ticks,
    loadavg,
    self_times,
    span_cost_us,
)

WORKLOADS = ("ingest_query", "stream_index", "batch_mix")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def _span_layers(tracer: Tracer, res: Result) -> None:
    """Per-layer numbers that come from the spans."""
    by_name: dict[str, list[float]] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s.end - s.start)

    def total(name: str) -> float:
        return sum(by_name.get(name, ()))

    def mean_ms(name: str) -> float:
        xs = by_name.get(name, ())
        return sum(xs) / len(xs) * 1e3 if xs else 0.0

    res.layer("session.get_spark_s", total("session.get_spark"))
    res.layer("schema.load_events_s", total("schema.load_events"))
    res.layer("operators.index.search_plan_ms", mean_ms("operators.index.search"))
    res.layer("operators.index.collect_ms", mean_ms("operators.index.collect"))
    selfs = self_times(tracer.spans)
    for layer in ("session", "schema", "sources", "query", "operators", "streaming", "plans"):
        res.layer(
            f"self_s.{layer}",
            sum(v for k, v in selfs.items() if k.split(".", 1)[0] == layer),
        )
    res.layer("trace.spans", len(tracer.spans))
    res.layer("trace.span_cost_us", span_cost_us())


def _overhead(untraced_path: str, record: dict) -> dict | None:
    """Traced minus untraced end-to-end metrics, as a share of the
    untraced value, when an untraced run of the same seed, source and
    ``--seconds`` is on disk."""
    try:
        with open(untraced_path) as fh:
            untraced = json.load(fh)
        base = untraced["end_to_end"]
        same = (
            untraced["context"]["source_sha"] == record["context"]["source_sha"]
            and untraced["seconds"] == record["seconds"]
        )
    except (OSError, ValueError, KeyError):
        return None
    if not same:
        return None
    return {
        k: (v - base[k]) / base[k]
        for k, v in record["end_to_end"].items()
        if base.get(k)
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "riemann_spark")):
        print(f"perfbench: no riemann_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from sparkenv import isolated_run

    e2e_units, layer_units = metric_units()

    # a TERM unwinds like an error, so every started process is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tracer = Tracer(bool(args.trace))
    res = Result()
    ctx = box_context()
    ctx["loadavg_before"] = loadavg()
    steal0, total0 = cpu_ticks()
    t0 = time.perf_counter()
    module = importlib.import_module(args.workload)
    with isolated_run(f"{args.workload}-{args.seed}") as dirs, MemSampler() as mem:
        module.run(args.seed, args.seconds, tracer, dirs, res)
    ctx["loadavg_after"] = loadavg()
    steal1, total1 = cpu_ticks()
    ctx["cpu_steal_pct"] = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
    ctx["run_wall_s"] = time.perf_counter() - t0
    res.e2e("peak_rss_mb", mem.peak / 2**20)

    if args.trace:
        _span_layers(tracer, res)
        # a layer this workload left idle did no work: it reports 0
        metrics = {n: {"value": res.layers.get(n, 0.0), "unit": u} for n, u in layer_units.items()}
    else:
        metrics = {n: {"value": res.end_to_end[n], "unit": u} for n, u in e2e_units.items()}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "context": ctx,
        "attempted": res.attempted,
        "failed": res.failed,
        "error_rate": res.failed / max(res.attempted, 1),
        "problems": res.problems,
        "end_to_end": res.end_to_end,
        "layers": res.layers,
        "detail": res.detail,
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        record["trace_overhead"] = _overhead(stem[: -len("1")] + "0.json", record)
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        with open(stem + ".spans.json", "w") as fh:
            json.dump([s.__dict__ for s in tracer.spans], fh)
    print(json.dumps(record, separators=(",", ":")))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
