"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

runs one workload from the root of a source checkout and prints, as its last
line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics; a traced run also
writes every span to ``perfbench/.work/trace-<workload>-<seed>.json``. The
line before the result is a report: the workload's own named metrics,
failures by name with their cause, input sizes and host stamps.

``--seconds`` sets the dashboard's loop: a fixed number of rounds that take
about that long at the nominal host speed. The batch workload always
measures exactly one pass, whose length is set by its work. Times in the
end-to-end metrics are scaled to the nominal host speed (see
``common.HostSpeed``); the report line also holds them unscaled.

``--workload all`` runs every workload untraced and then traced, each in its
own process, and prints every report and the tracing overhead of each
end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "batch")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _metrics(spec: dict, key: str, values: dict) -> dict:
    unknown = set(values) - {m["name"] for m in spec[key]}
    if unknown:
        raise KeyError(f"metrics not in BENCHMARK.json {key}: {unknown}")
    out = {}
    for m in spec[key]:
        v = values.get(m["name"])
        if v is None:
            if key == "end_to_end":
                raise KeyError(f"end-to-end metric {m['name']} not measured")
            v = 0  # a layer this workload never calls
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def run_one(args) -> int:
    import common

    start = {"cpu_ref": common.cpu_ref_s(), "loadavg": common.loadavg()}
    import workloads

    workdir = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    common.confine(workdir)
    ctx = workloads.Ctx(args.seed, args.seconds, bool(args.trace), workdir)
    ctx.excluded_s = start["cpu_ref"]  # the host stamp is not set-up work
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
        setup_s = ctx.first_op - common.process_start() - ctx.excluded_s
        peak = ctx.rss.stop()
        res["e2e"]["setup_s"] = setup_s / ctx.speed.factor()
        res.setdefault("layers", {}).update({
            "session.start_s": ctx.session_s, "process.peak_rss_mb": peak,
            "host.calibrate_ms": common.median(ctx.speed.samples) * 1e3})
        if ctx.trace:
            trace_path = os.path.join(
                HERE, ".work", f"trace-{args.workload}-{args.seed}.json")
            ctx.tracer.dump(trace_path)
    finally:
        if ctx.spark is not None:
            common.stop_spark(ctx.spark)
        shutil.rmtree(workdir, ignore_errors=True)

    spec = _spec()
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "end_to_end": res["e2e"], "setup_s_raw": setup_s,
        "host_speed_factor": ctx.speed.factor(),
        "calibrate_s": ctx.speed.samples, "peak_rss_mb": peak,
        "failed_ratio": len(ctx.failures) / max(1, ctx.attempted),
        **res["named"], "failures": ctx.failures, **res["info"],
        **common.stamps(start),
    }
    print("report " + json.dumps(report, default=str))
    key = "per_layer" if args.trace else "end_to_end"
    vals = res["layers"] if args.trace else res["e2e"]
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": _metrics(spec, key, vals),
    }))
    return 0


def run_all(args) -> int:
    """Every workload untraced, then traced, each in its own process. The
    overhead of tracing on an end-to-end metric is its traced value minus
    its untraced value."""
    summary = {}
    for w in WORKLOADS:
        reports = []
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode or len(lines) < 2:
                sys.stderr.write(p.stderr)
                return p.returncode or 1
            print(lines[-2])
            reports.append(json.loads(lines[-2].split(" ", 1)[1]))
        plain, traced = reports
        summary[w] = {
            "end_to_end": plain["end_to_end"],
            "tracing_overhead": {k: traced["end_to_end"][k] - v
                                 for k, v in plain["end_to_end"].items()},
            "failed_ratio": plain["failed_ratio"],
            "failures": plain["failures"],
        }
    print(json.dumps(summary))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "harmonize_search_analyze_spark")):
        print(f"no engine package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    # the dashboard's time-window literals and their SQL twins are naive
    # datetimes; pin the zone both engines read them in
    os.environ["TZ"] = "UTC"
    time.tzset()
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
