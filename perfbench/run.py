"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Human-readable lines go first; the last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The full
record, with the environment and, for traced runs, every span, is also
written to ``.perfbench_results/``. Exits 1 when any output was wrong.
"""

from __future__ import annotations

import os
import sys

# Run as a script, this directory heads sys.path; import the benchmark
# as the ``perfbench`` package from the checkout root instead, so its
# module names cannot shadow others.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if sys.path and os.path.abspath(sys.path[0]) == os.path.join(ROOT, "perfbench"):
    sys.path[0] = ROOT

import argparse
import json
import shutil
import threading
import time
from contextlib import contextmanager

WORKLOADS = ("etl_incremental", "corpus_dedup")  # the ones BENCHMARK.json lists
# Runnable, but outside BENCHMARK.json: one run takes longer than the
# benchmark's run budget allows (README.md).
EXTRA_WORKLOADS = ("serve_mixed",)
WATCHDOG_S = 170  # the run must end within 180 s


class Ctx:
    """What a workload gets: the session, the tracer, its scratch
    directory, its seed and its measuring window."""

    def __init__(self, sess, tracer, work: str, seed: int, seconds: int, t0: float) -> None:
        self.sess, self.spark, self.tracer = sess, sess.spark, tracer
        self.work, self.seed, self.seconds, self.t0 = work, seed, seconds, t0
        self.cores = sess.cores
        self.setup_s = self.deadline = self.peak_rss_mb = self.heap_live_peak_mb = None
        self.phases: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Record the wall-clock offset at which ``phase`` ended."""
        self.phases[phase] = time.perf_counter() - self.t0

    def measured(self) -> None:
        """End of the timed part: read peak memory before the correctness
        checks, whose DuckDB work runs in this process."""
        self.peak_rss_mb = self.sess.peak_rss_mb()
        self.heap_live_peak_mb = self.sess.heap_live_peak_mb()
        self.mark("measured")

    def setup_done(self) -> None:
        self.mark("setup")
        now = time.perf_counter()
        self.setup_s = now - self.t0
        self.deadline = now + self.seconds

    @contextmanager
    def untraced(self):
        from perfbench.trace import NullTracer

        tracer, self.tracer = self.tracer, NullTracer()
        try:
            yield
        finally:
            self.tracer = tracer

    def layer_summary(self, root_prefix: str) -> dict:
        from perfbench import stats
        from perfbench.trace import COUNTS, LAYERS

        ops = self.tracer.per_op_layers(root_prefix)
        out = {}
        for layer in LAYERS:
            out[f"{layer}.self_ms_per_op"] = stats.median([op[layer]["self_ms"] for op in ops])
            for c in COUNTS:
                out[f"{layer}.{c}_per_op"] = stats.median([op[layer][c] for op in ops])
        return out


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + EXTRA_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse(argv)
    from perfbench import harness

    load_start, probe_start = harness.loadavg(), harness.cpu_probe_s()
    t0 = time.perf_counter()
    try:
        import stakehouse_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from perfbench import metrics, wl_dedup, wl_etl, wl_serve
    from perfbench.trace import NullTracer, Tracer

    workload = {"etl_incremental": wl_etl, "serve_mixed": wl_serve, "corpus_dedup": wl_dedup}[args.workload]
    work = harness.make_work(ROOT, args.workload)
    sess = None
    watchdog = threading.Timer(WATCHDOG_S, _abort, args=(lambda: sess,))
    watchdog.daemon = True
    watchdog.start()
    try:
        sess = harness.Session(work, f"perfbench-{args.workload}")
        tracer = Tracer(sess.spark.sparkContext) if args.trace else NullTracer()
        ctx = Ctx(sess, tracer, work, args.seed, args.seconds, t0)
        out = workload.run(ctx)
        ctx.mark("checked")
        env = sess.env(load_start, probe_start)
    finally:
        if sess is not None:
            sess.stop()
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
    ctx.mark("stopped")

    e2e = {"setup_s": ctx.setup_s, "peak_rss_mb": ctx.peak_rss_mb, **out["e2e"]}
    layers = dict.fromkeys(metrics.LAYER, 0.0)
    layers.update(
        {
            "session.start_s": sess.start_s,
            "session.heap_live_peak_mb": ctx.heap_live_peak_mb,
            "trace.spans": len(tracer.spans),
        }
    )
    layers.update({k: v for k, v in out["layers"].items() if k in metrics.LAYER})
    chosen, units = (layers, metrics.LAYER) if args.trace else (e2e, metrics.E2E)
    correct = out["failed"] == 0 and not out["problems"]
    result = {
        "correct": correct,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {k: {"value": float(chosen[k]), "unit": units[k]} for k in units},
    }

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "failed_frac": out["failed"] / out["attempted"],
        "notes": out["notes"],
        "phases_s": ctx.phases,
        "problems": out["problems"],
        "samples": out.get("samples", {}),
        "end_to_end": e2e,
        "per_layer": layers,
        "spans": tracer.to_json() if args.trace else [],
    }
    res_dir = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(res_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(res_dir, name), "w") as f:
        json.dump(record, f, indent=1)

    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  trace {args.trace}")
    print("env " + json.dumps(env))
    for k, v in out["notes"].items():
        print(f"note {k} = {v}")
    print("phases_s " + json.dumps({k: round(v, 2) for k, v in ctx.phases.items()}))
    for p in out["problems"]:
        print(f"MISMATCH {p}")
    print(f"failed_frac = {record['failed_frac']:.6g} ratio ({out['failed']}/{out['attempted']})")
    for k, m in result["metrics"].items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


def _abort(get_sess) -> None:
    """Watchdog: stop the JVM and exit rather than outlive the limit."""
    print(f"perfbench: aborted after {WATCHDOG_S} s", file=sys.stderr, flush=True)
    sess = get_sess()
    if sess is not None:
        sess.jvm.kill()
        sess.jvm.wait()
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
