"""Seeded benchmark for hazelcast_jet_spark.

Run from the root of a checkout::

    python3 perfbench/run.py --workload etl_mixed --seed 1 --seconds 12 --trace 0

``--workload`` is one of etl_mixed, llm_curation, stream_q5, or ``all``,
which runs each workload untraced and traced in its own process and prints
the named end-to-end metrics, the tracing overhead and the failed ratio.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1``
the per-layer ones.  See perfbench/METRICS.md for what each one means on
each workload.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

from common import SETUPS, Workspace, configure_spark_env, log, median, peak_rss_mb, quiet, stop_jvm  # noqa: E402

WORKLOADS = ("etl_mixed", "llm_curation", "stream_q5")


def _library_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "hazelcast_jet_spark", "__init__.py"))


def _workload(name: str, ws, seed: int, tracer):
    if name == "etl_mixed":
        from etl import EtlMixed
        return EtlMixed(ws, seed, tracer)
    if name == "llm_curation":
        from llm import LlmCuration
        return LlmCuration(ws, seed, tracer)
    from stream import StreamQ5
    return StreamQ5(ws, seed, tracer)


def run_one(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from spans import Tracer, spark_metrics

    with Workspace(ROOT, name) as ws:
        configure_spark_env(ws, trace)
        sys.path.insert(0, ROOT)
        import hazelcast_jet_spark
        if os.path.dirname(os.path.dirname(os.path.abspath(hazelcast_jet_spark.__file__))) != ROOT:
            raise SystemExit("hazelcast_jet_spark was not imported from this checkout")
        from hazelcast_jet_spark import get_spark

        tr = Tracer(trace)
        wl = _workload(name, ws, seed, tr)
        t = time.perf_counter()
        wl.generate()
        log(f"generated inputs in {time.perf_counter() - t:.2f} s")

        spark = None
        setups, get_spark_s = [], []
        try:
            for _ in range(SETUPS):
                t0 = time.perf_counter()
                with tr.span("session.get_spark"):
                    if spark is not None:
                        spark.stop()
                    spark = get_spark(f"perfbench-{name}")
                    quiet(spark)
                tr.bind(spark)
                t1 = time.perf_counter()
                wl.setup(spark)
                setups.append(time.perf_counter() - t0)
                get_spark_s.append(t1 - t0)
                log(f"set-up {len(setups)}: {setups[-1]:.2f} s (session {t1 - t0:.2f})")
            # one warm-up, after the last set-up: JIT, codegen and per-session
            # state are filled once, so the first set-up's cold JVM pays for it
            t0 = time.perf_counter()
            with tr.span("session.warmup"):
                wl.warmup()
            warmup_s = time.perf_counter() - t0
            log(f"warm-up: {warmup_s:.2f} s")

            tr.phase = "measure"
            with tr.span("bench.measure") as root:
                res = wl.run(seconds)
            tr.phase = "after"
            log(f"measured {res['attempted']} operations, {res['failed']} failed")
            res["setup_s"] = median(setups) + warmup_s
            res["peak_rss_mb"] = peak_rss_mb(spark)
            layers = wl.layer_metrics() if trace else {}
        finally:
            if spark is not None:
                spark.stop()
            wl.close()
            stop_jvm()

        if trace:
            layers.update(_trace_layers(tr, root, ws, spark_metrics))
            layers["session.jvm_start_s"] = get_spark_s[0]
            layers["session.get_spark_s"] = median(get_spark_s)
            layers["session.warmup_s"] = warmup_s
        res["layers"] = layers
        return res


#: per-layer metric families that only some workloads exercise; the others
#: bypass the layer and report 0
OWNERS = {
    "operators.": ("llm_curation",),
    "streaming.": ("stream_q5",),
    "gen.": ("stream_q5",),
    "storage.": ("etl_mixed",),
    "sql.": ("etl_mixed",),
    "pipeline.": ("etl_mixed",),
    "sinks.": ("etl_mixed", "llm_curation"),
}


def fill_bypassed(name: str, layers: dict, bench: dict) -> None:
    for m in bench["per_layer"]:
        k = m["name"]
        owners = next((o for p, o in OWNERS.items() if k.startswith(p)), None)
        if k not in layers and owners is not None and name not in owners:
            layers[k] = 0.0


def _trace_layers(tr, root, ws, spark_metrics) -> dict:
    out = {}
    ops = tr.measured_ops()
    out.update(spark_metrics(tr, ops, ws.path("eventlog")))
    n_q = max(1.0, tr.counters.get("plans.queries", 0.0))
    for k in ("spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms",
              "plans.exchanges", "plans.scans"):
        out[k] = tr.counters.get(k, 0.0) / n_q
    self_ms = tr.self_ms_by_layer(root)
    for layer in SELF_LAYERS:
        out[f"self_ms.{layer}"] = self_ms.get(layer, 0.0)
    out["trace.wall_ms"] = root.ms
    # the measured window's own self time: nothing inside a span covers it
    out["trace.unattributed_ms"] = root.self_ms
    return out


#: layers whose self time is reported; together with trace.unattributed_ms
#: they add up to trace.wall_ms
SELF_LAYERS = ("bench", "check", "pipeline", "sources", "sinks", "sql", "storage",
               "operators", "streaming", "plans")


def result_line(res: dict, trace: bool, bench: dict) -> dict:
    if trace:
        names = [m["name"] for m in bench["per_layer"]]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        vals = res["layers"]
    else:
        names = [m["name"] for m in bench["end_to_end"]]
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        vals = e2e_values(res)
    missing = [n for n in names if n not in vals]
    if missing:
        raise SystemExit(f"metrics not produced: {missing}")
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": float(vals[n]), "unit": units[n]} for n in names},
    }


def e2e_values(res: dict) -> dict:
    return {
        "setup_s": res["setup_s"],
        "op_p50_ms": median(res["op"]) * 1000.0,
        "op2_p50_ms": median(res["op2"]) * 1000.0,
        "rows_per_s": res["rows_per_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }


def named_values(res: dict) -> dict:
    """The workload's end-to-end metrics under their own names."""
    out = {"setup_s": (res["setup_s"], "s"), "peak_rss_mb": (res["peak_rss_mb"], "MB"),
           "failed_ratio": (res["failed"] / res["attempted"], "ratio")}
    out.update(res["named"])
    return out


def run_all(seed: int, seconds: float) -> int:
    """Each workload untraced, then traced, each in its own process."""
    code = 0
    print(f"{'workload':<14} {'metric':<24} {'untraced':>12} {'traced':>12} {'overhead':>12} unit")
    for name in WORKLOADS:
        named = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            code = code or p.returncode
            named[trace] = {}
            for line in p.stdout.splitlines():
                if line.startswith("named "):
                    _, k, v, unit = line.split()
                    named[trace][k] = (float(v), unit)
        for k, (v, unit) in named[0].items():
            t = named[1].get(k, (float("nan"), unit))[0]
            print(f"{name:<14} {k:<24} {v:>12.4f} {t:>12.4f} {t - v:>12.4f} {unit}")
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _library_present():
        log("hazelcast_jet_spark/ not found in the current directory; "
            "run from the root of a checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload == "all":
        return run_all(args.seed, args.seconds)

    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    if args.trace:
        fill_bypassed(args.workload, res["layers"], bench)
    for k, (v, unit) in named_values(res).items():
        print(f"named {k} {v:.6g} {unit}")
    print(json.dumps(result_line(res, bool(args.trace), bench)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
