"""``etl_incremental``: the reference's production loop.

Set-up lands a long balance history. The timed part backfills it into
an empty warehouse in one step, then lands one small batch of epochs
per cycle and times each cycle from the batch landing to its snapshot
being readable through the serving layer. The final warehouse must
equal a single-shot DuckDB recompute of all inputs."""

from __future__ import annotations

import os
import time

from perfbench import check, gen, harness, stats
from perfbench.warehouse import Warehouse

N_KEYS = 600
HISTORY = 400  # epochs landed before the first cycle
BATCH = 4  # epochs per cycle
MAX_CYCLES = 60
MIN_CYCLES = 3
WARM_KEYS, WARM_HISTORY, WARM_CYCLES = 200, 120, 1


def run(ctx) -> dict:
    chain = gen.chain(ctx.seed, N_KEYS, HISTORY + BATCH * MAX_CYCLES)
    wh = Warehouse(ctx.spark, ctx.tracer, os.path.join(ctx.work, "etl"), chain, ctx.seed)
    history_rows = wh.land(0, 0, HISTORY)

    # Untimed warm-up: the same loop on a small chain of its own.
    warm_chain = gen.chain(ctx.seed + 1, WARM_KEYS, WARM_HISTORY + BATCH * WARM_CYCLES)
    with ctx.untraced():
        warm = Warehouse(ctx.spark, ctx.tracer, os.path.join(ctx.work, "warm"), warm_chain, ctx.seed + 1)
        warm.land(0, 0, WARM_HISTORY)
        e = warm_chain.epochs
        warm.step(int(e[0]), int(e[WARM_HISTORY - 1]), first=True)
        for i in range(WARM_CYCLES):
            lo = WARM_HISTORY + i * BATCH
            warm.land(i + 1, lo, lo + BATCH)
            warm.step(int(e[lo]), int(e[lo + BATCH - 1]), first=False)
    ctx.sess.reset_caches()
    ctx.setup_done()

    e = chain.epochs
    attempted = failed = 0
    with ctx.tracer.span("etl.backfill"):
        t0 = time.perf_counter()
        ok = wh.step(int(e[0]), int(e[HISTORY - 1]), first=True)
        backfill_s = time.perf_counter() - t0
    attempted += 1
    failed += not ok

    cycle_s, rows_new, census = [], [], []
    before = _census(wh) if ctx.tracer.enabled else None
    n = 0
    while n < MAX_CYCLES and (n < MIN_CYCLES or time.perf_counter() < ctx.deadline):
        lo = HISTORY + n * BATCH
        rows_new.append(wh.land(n + 1, lo, lo + BATCH))
        with ctx.tracer.span("etl.cycle"):
            t0 = time.perf_counter()
            ok = wh.step(int(e[lo]), int(e[lo + BATCH - 1]), first=False)
            cycle_s.append(time.perf_counter() - t0)
        n += 1
        attempted += 1
        failed += not ok
        if before is not None:
            after = _census(wh)
            new = {k: v for k, v in after.items() if before.get(k) != v}
            census.append((len(new), sum(size for size, _ in new.values())))
            before = after
    tracked_live = ctx.sess.reset_caches()
    ctx.measured()

    last = int(e[HISTORY + n * BATCH - 1])
    con = check.duck(ctx.cores, os.path.join(ctx.work, "tmp"))
    p = wh.p
    problems = check.check_warehouse(
        con,
        {
            "balances": f"{p.balances}/*.parquet",
            "withdrawals": f"{p.withdrawals}/*.parquet",
            "transfers": f"{p.transfers}/*.parquet",
            "income": f"{p.income}/*/*.parquet",
            "membership": f"{p.membership}/*/*.parquet",
            "index_apr": _latest(p.index_apr) + "/*.parquet",
            "earnings": _latest(p.earnings) + "/*.parquet",
        },
        gen.GENESIS_BLOCK,
        int(e[0]),
        last,
    )
    con.close()
    if problems:
        failed = attempted  # a wrong warehouse means every step's output is suspect

    live = sum(harness.dir_bytes(d)[1] for d in wh.live_dirs())
    stored = sum(harness.dir_bytes(d)[1] for d in wh.output_dirs())
    tr = ctx.tracer
    layers = {
        "streaming.incremental.rows_new_per_cycle": stats.median(rows_new),
        "io.sinks.stored_bytes_per_live_byte": stored / live,
        "caches.tracked_live_after": tracked_live,
        "trace.batch_s": backfill_s,
        "trace.p50_ms": stats.median(cycle_s) * 1e3,
    }
    if tr.enabled:
        tr.finish()
        roots = {s.id for s in tr.named("etl.cycle")}
        cyc = [s for s in tr.spans if s.op in roots]

        def med(name: str, attr: str = "duration", scale: float = 1.0) -> float:
            xs = [getattr(s, attr) if attr == "duration" else s.counts[attr] for s in cyc if s.name == name]
            return stats.median(xs) * scale if xs else 0.0

        layers.update(
            {
                "streaming.incremental.run_s": med("streaming.incremental.run"),
                "streaming.incremental.jobs_per_cycle": med("streaming.incremental.run", "jobs"),
                "streaming.incremental.tasks_per_cycle": med("streaming.incremental.run", "tasks"),
                "plans.pipelines.index_epoch_apr.build_ms": med("plans.pipelines.index_epoch_apr.build", scale=1e3),
                "plans.pipelines.index_epoch_apr.exec_s": med("plans.pipelines.index_epoch_apr.exec"),
                "plans.pipelines.backfill_s": tr.named("etl.backfill")[0].duration,
                "io.sinks.write_snapshot_s": med("io.sinks.write_snapshot"),
                "io.sinks.read_snapshot_ms": med("io.sinks.read_snapshot", scale=1e3),
                "io.sinks.files_written_per_cycle": stats.median([c[0] for c in census]),
                "io.sinks.bytes_written_per_cycle": stats.median([c[1] for c in census]),
                "plans.serving.index_apr_recent.build_ms": med("plans.serving.index_apr_recent.build", scale=1e3),
                "plans.serving.index_apr_recent.exec_ms": med("plans.serving.index_apr_recent.exec", scale=1e3),
                "plans.serving.index_apr_recent.jobs": med("plans.serving.index_apr_recent.exec", "jobs"),
                "plans.serving.index_apr_recent.tasks": med("plans.serving.index_apr_recent.exec", "tasks"),
            }
        )
        layers.update(ctx.layer_summary("etl.cycle"))

    return {
        "e2e": {
            "batch_s": backfill_s,
            "p50_ms": stats.median(cycle_s) * 1e3,
            "throughput_per_s": stats.median([r / s for r, s in zip(rows_new, cycle_s)]),
        },
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "notes": {
            "cycles": n,
            "history_rows": history_rows,
            "etl_backfill_s": backfill_s,
            "etl_cycle_p50_s": stats.median(cycle_s),
        },
        "samples": {"cycle_s": cycle_s},
    }


def _latest(snap: str) -> str:
    v = max(int(d[2:]) for d in os.listdir(snap) if d.startswith("v="))
    return os.path.join(snap, f"v={v}")


def _census(wh: Warehouse) -> dict:
    out = {}
    for d in wh.output_dirs():
        out.update(harness.file_census(d))
    return out
