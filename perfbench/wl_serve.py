"""``serve_mixed``: read traffic over a warehouse that set-up builds with
the system's own ETL and sinks.

~80% per-validator point reads, ~20% index aggregates; keys, users and
indexes are drawn from ``--seed`` with a Zipf popularity. Phase one is
an open loop: requests are due on a Poisson schedule at a fixed rate and
each latency is timed from its due time. Phase two is a closed loop of
``nproc`` clients, which sets capacity and the end-to-end median latency. The schedule and the order of
endpoints are drawn once, from a fixed seed, so every run meets the same
traffic shape. After the run, every response is compared with DuckDB's
answer over the same warehouse files."""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import check, gen, stats
from perfbench.warehouse import Warehouse

N_KEYS = 400
EPOCHS = 200
N_USERS = 200
OPEN_REQUESTS = 40  # p75 then has 10 samples beyond it
OPEN_RATE = 1.8  # requests per second: about half the closed-loop capacity (README.md)
CLOSED_BLOCK = 30  # closed-loop requests per block, MIX exact; at least one block runs
MAX_CLOSED_BLOCKS = 40
WARM_REQUESTS = 10  # untimed, before the open loop
POOL = 8  # open-loop dispatch threads
# 80% per-validator point reads, 20% index aggregates. No source gives
# per-endpoint frequencies, so each group's share is split equally
# among its endpoints; README.md states this as an assumption.
POINT_READS = ("validator_epoch_apr", "validator_apr_between_epochs", "user_income", "slot_withdrawals_page")
AGGREGATES = ("deth_earned_index", "index_apr_recent", "top_indexes")
MIX = {**{ep: 0.8 / len(POINT_READS) for ep in POINT_READS}, **{ep: 0.2 / len(AGGREGATES) for ep in AGGREGATES}}
ZIPF_S = 1.1  # popularity exponent of keys, users, validators and indexes (an assumption)


def zipf(r: np.random.Generator, n: int, size: int) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -ZIPF_S
    return r.choice(n, size, p=p / p.sum())


def stratified(r: np.random.Generator, n: int) -> list[str]:
    """``n`` endpoint names in exactly the MIX proportions (largest
    remainders), in seeded random order: every block of traffic then
    costs the same work whatever the seed, so seeds vary keys and
    timing, not the mix."""
    quota = {ep: share * n for ep, share in MIX.items()}
    counts = {ep: int(q) for ep, q in quota.items()}
    for ep in sorted(quota, key=lambda e: counts[e] - quota[e])[: n - sum(counts.values())]:
        counts[ep] += 1
    names = [ep for ep, c in counts.items() for _ in range(c)]
    return [names[i] for i in r.permutation(n)]


def requests(seed: int, chain: gen.Chain, slots, blocks: list[int]) -> list[tuple]:
    """Requests ``(endpoint, params)``, one stratified block of each size
    in ``blocks``; the parameters are drawn from ``seed``."""
    r = gen.rng(seed, "requests")
    keys = chain.keys[r.permutation(len(chain.keys))]
    users = [tuple(sorted(set(keys[zipf(r, len(keys), int(r.integers(1, 4)))]))) for _ in range(N_USERS)]
    wd_index: dict[int, list[int]] = {}
    for v, wi in zip(slots.column("validator").to_pylist(), slots.column("withdrawal_index").to_pylist()):
        wd_index.setdefault(v, []).append(wi)
    validators = np.array(sorted(wd_index))[r.permutation(len(wd_index))]
    last = int(chain.epochs[-1])
    # The traffic shape (which endpoint comes when) is the same for every
    # seed, like the arrival times: runs then differ in data and keys, not
    # in where the heavy requests fall.
    shape = gen.rng(0, "schedule")
    kinds = [ep for size in blocks for ep in stratified(shape, size)]
    n = len(kinds)
    key_pick = zipf(r, len(keys), n)
    user_pick = zipf(r, N_USERS, n)
    val_pick = zipf(r, len(validators), n)
    idx_pick = zipf(r, gen.N_INDEXES, n) + 1
    out = []
    for i, ep in enumerate(kinds):
        key = str(keys[key_pick[i]])
        if ep == "validator_epoch_apr":
            params = (key, int(r.choice([5, 10, 25])))
        elif ep == "validator_apr_between_epochs":
            hi = last - int(r.integers(0, 50))
            params = (key, hi - int(r.integers(5, 20)), hi)
        elif ep == "user_income":
            params = (users[user_pick[i]], 50)
        elif ep == "slot_withdrawals_page":
            v = int(validators[val_pick[i]])
            params = (v, int(r.choice(wd_index[v])) - 1, 10)
        elif ep == "deth_earned_index":
            params = (int(idx_pick[i]),)
        elif ep == "index_apr_recent":
            params = (int(idx_pick[i]), int(r.choice([10, 30])))
        else:
            params = ()
        out.append((ep, params))
    return out


class Server:
    """Answers one request through ``plans.serving``; tables are opened
    per request, so every read sees the newest snapshot."""

    def __init__(self, spark, tracer, wh: Warehouse) -> None:
        self.spark, self.tr, self.p = spark, tracer, wh.p

    def _snap(self, name: str):
        from stakehouse_etl_spark.io import sinks

        with self.tr.span("io.sinks.read_snapshot"):
            return sinks.read_snapshot(self.spark, getattr(self.p, name))

    def _table(self, name: str):
        return self.spark.read.parquet(getattr(self.p, name))

    def __call__(self, ep: str, params: tuple) -> list[tuple]:
        from stakehouse_etl_spark.plans import serving as S

        with self.tr.span("serve.request"):
            with self.tr.span(f"plans.serving.{ep}.build"):
                if ep == "validator_epoch_apr":
                    dfs = [S.validator_epoch_apr(self._table("income"), *params)]
                elif ep == "validator_apr_between_epochs":
                    dfs = [S.validator_apr_between_epochs(self._table("income"), *params)]
                elif ep == "user_income":
                    keys, epochs = params
                    dfs = [
                        S.user_income(
                            self._table("income"), self._snap("earnings"), self._snap("threat"), list(keys), epochs
                        )
                    ]
                elif ep == "slot_withdrawals_page":
                    dfs = [S.slot_withdrawals_page(self._snap("slot_withdrawals"), *params)]
                elif ep == "deth_earned_index":
                    dfs = [S.deth_earned_index(self._table("income"), self._table("membership"), *params)]
                elif ep == "index_apr_recent":
                    dfs = [S.index_apr_recent(self._snap("index_apr"), *params)]
                else:
                    top = S.top_indexes(self._snap("daily_apr"), self._snap("index_map"))
                    dfs = [top["top_earnings"], top["top_losses"], top["top_apr"]]
            with self.tr.span(f"plans.serving.{ep}.exec"):
                return [(i, *row) for i, df in enumerate(dfs) for row in df.collect()]


# --- DuckDB answers --------------------------------------------------------
_ORACLE = {
    "validator_epoch_apr": "SELECT 0, * FROM income WHERE bls_key = $1 ORDER BY epoch DESC LIMIT $2",
    "validator_apr_between_epochs": "SELECT 0, * FROM income WHERE bls_key = $1 AND epoch BETWEEN $2 AND $3",
    "user_income": """
        WITH k AS (SELECT unnest($1::VARCHAR[]) AS bls_key),
        s AS (
          SELECT epoch, apr FROM income WHERE bls_key IN (SELECT bls_key FROM k)
          QUALIFY row_number() OVER (PARTITION BY bls_key ORDER BY epoch DESC) <= $2
        ),
        a AS (SELECT avg(apr) AS avg_apr FROM (SELECT epoch, avg(apr) AS apr FROM s GROUP BY epoch))
        SELECT 0, k.bls_key, coalesce(e.earnings, 0.0), coalesce(e.losses, 0.0), a.avg_apr,
               coalesce(t.dETHBacking, 1.0), coalesce(t.samePosition, 1.0), coalesce(t.dETHBalance, 1.0)
        FROM k LEFT JOIN earnings e USING (bls_key) LEFT JOIN threat t USING (bls_key) CROSS JOIN a""",
    "slot_withdrawals_page": """
        SELECT 0, * FROM slot_withdrawals WHERE validator = $1 AND withdrawal_index > $2
        ORDER BY withdrawal_index LIMIT $3""",
    "deth_earned_index": """
        SELECT 0, sum(earnings) / 1e9 FROM latest_income
        WHERE bls_key IN (SELECT bls_key FROM latest_member WHERE indexes = $1)""",
    "index_apr_recent": "SELECT 0, * FROM index_apr WHERE indexes = $1 ORDER BY epoch DESC LIMIT $2",
    "top_indexes": """
        WITH per AS (
          SELECT savETHIndex, sum(earnings) AS e, sum(losses) AS l, avg(apr) AS a, count(*) AS n
          FROM daily_apr JOIN index_map USING (bls_key) WHERE savETHIndex IS NOT NULL GROUP BY 1
        )
        (SELECT 0, * FROM per ORDER BY e DESC LIMIT 7)
        UNION ALL (SELECT 1, * FROM per ORDER BY l DESC LIMIT 7)
        UNION ALL (SELECT 2, * FROM per ORDER BY a DESC LIMIT 7)""",
}


def answers(con, wh: Warehouse, distinct: list[tuple]) -> dict[tuple, list[tuple]]:
    p = wh.p
    latest = {}
    for name in ("earnings", "threat", "slot_withdrawals", "index_apr", "daily_apr", "index_map"):
        snap = getattr(p, name)
        v = max(int(d[2:]) for d in os.listdir(snap) if d.startswith("v="))
        latest[name] = f"{snap}/v={v}/*.parquet"
    con.execute(f"CREATE TABLE income AS SELECT * FROM read_parquet('{p.income}/*/*.parquet', hive_partitioning = true)")
    con.execute(
        f"CREATE TABLE membership AS SELECT * FROM read_parquet('{p.membership}/*/*.parquet', hive_partitioning = true)"
    )
    for name, files in latest.items():
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{files}', hive_partitioning = false)")
    con.execute(
        "CREATE TABLE latest_income AS SELECT * FROM income "
        "QUALIFY row_number() OVER (PARTITION BY bls_key ORDER BY epoch DESC) = 1"
    )
    con.execute(
        "CREATE TABLE latest_member AS SELECT * FROM membership "
        "QUALIFY row_number() OVER (PARTITION BY bls_key ORDER BY epoch DESC) = 1"
    )
    out = {}
    for ep, params in distinct:
        args = [list(params[0]), params[1]] if ep == "user_income" else list(params)
        out[(ep, params)] = [tuple(r) for r in con.execute(_ORACLE[ep], args).fetchall()]
    return out


# --- the workload ------------------------------------------------------------
def run(ctx) -> dict:
    chain = gen.chain(ctx.seed, N_KEYS, EPOCHS)
    wh = Warehouse(ctx.spark, ctx.tracer, os.path.join(ctx.work, "serve"), chain, ctx.seed)
    wh.land(0, 0, EPOCHS)
    with ctx.tracer.span("serve.build"):
        t0 = time.perf_counter()
        ok = wh.step(int(chain.epochs[0]), int(chain.epochs[-1]), first=True)
        wh.publish_serving_dims(ctx.seed)
        build_s = time.perf_counter() - t0
    if not ok:
        raise RuntimeError("serve_mixed: the warehouse build's probe read missed the last epoch")
    ctx.mark("built")

    slots = gen.slot_withdrawals_table(ctx.seed, chain)
    reqs = requests(ctx.seed, chain, slots, [WARM_REQUESTS, OPEN_REQUESTS] + [CLOSED_BLOCK] * MAX_CLOSED_BLOCKS)
    server = Server(ctx.spark, ctx.tracer, wh)
    with ctx.untraced():
        warm = Server(ctx.spark, ctx.tracer, wh)
        for req in reqs[:WARM_REQUESTS]:
            warm(*req)
    reqs = reqs[WARM_REQUESTS:]
    ctx.sess.reset_caches()
    ctx.setup_done()

    responses: dict[int, object] = {}
    # --- open loop ---
    due_offsets = np.cumsum(gen.rng(0, "arrivals").exponential(1.0 / OPEN_RATE, OPEN_REQUESTS))
    latency = [0.0] * OPEN_REQUESTS
    late, backlog = [], []
    lock = threading.Lock()
    in_flight = [0]

    def serve_open(i: int, due: float) -> None:
        try:
            responses[i] = server(*reqs[i])
        except Exception as exc:  # counted as a failed request
            responses[i] = exc
        latency[i] = time.perf_counter() - due
        with lock:
            in_flight[0] -= 1

    with ThreadPoolExecutor(max_workers=POOL) as pool:
        futures = []
        t_start = time.perf_counter() + 0.05
        for i, off in enumerate(due_offsets):
            due = t_start + off
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            late.append(time.perf_counter() - due)
            with lock:
                backlog.append(in_flight[0])
                in_flight[0] += 1
            futures.append(pool.submit(serve_open, i, due))
        for f in futures:
            f.result()

    # --- closed loop: stratified blocks, each served by nproc clients ---
    closed_s, closed_n = 0.0, 0
    closed_latency: list[float] = []
    for b in range(MAX_CLOSED_BLOCKS):
        lo = OPEN_REQUESTS + b * CLOSED_BLOCK
        todo = list(range(lo, lo + CLOSED_BLOCK))

        def client() -> None:
            while True:
                with lock:
                    if not todo:
                        return
                    i = todo.pop()
                t = time.perf_counter()
                try:
                    responses[i] = server(*reqs[i])
                except Exception as exc:  # counted as a failed request
                    responses[i] = exc
                with lock:
                    closed_latency.append(time.perf_counter() - t)

        t0 = time.perf_counter()
        clients = [threading.Thread(target=client) for _ in range(ctx.cores)]
        for c in clients:
            c.start()
        for c in clients:
            c.join()
        closed_s += time.perf_counter() - t0
        closed_n += CLOSED_BLOCK
        if time.perf_counter() >= ctx.deadline:
            break
    capacity = closed_n / closed_s
    tracked_live = ctx.sess.reset_caches()
    ctx.measured()

    # --- correctness ---
    con = check.duck(ctx.cores, os.path.join(ctx.work, "tmp"))
    expected = answers(con, wh, sorted({reqs[i] for i in responses}, key=repr))
    con.close()
    problems = []
    failed = 0
    for i, got in sorted(responses.items()):
        why = repr(got) if isinstance(got, Exception) else check.diff_rows(got, expected[reqs[i]])
        if why:
            failed += 1
            if len(problems) < 5:
                problems.append(f"request {i} {reqs[i]}: {why}")

    p50 = stats.median(closed_latency) * 1e3
    layers = {
        "loadgen.open_p50_ms": stats.median(latency) * 1e3,
        "loadgen.p75_ms": stats.percentile(latency, 75) * 1e3,
        "loadgen.late_p75_ms": stats.percentile(late, 75) * 1e3,
        "loadgen.backlog_max": max(backlog),
        "loadgen.samples": len(latency),
        "caches.tracked_live_after": tracked_live,
        "trace.batch_s": build_s,
        "trace.p50_ms": p50,
    }
    tr = ctx.tracer
    if tr.enabled:
        tr.finish()
        roots = {r.id for r in tr.named("serve.request")}
        calls: dict[str, dict[int, dict]] = {}  # endpoint -> op -> build/exec span
        reads = []
        for s in tr.spans:
            if s.op not in roots:
                continue
            if s.name == "io.sinks.read_snapshot":
                reads.append(s.duration)
            elif s.name.startswith("plans.serving."):
                ep, phase = s.name[len("plans.serving.") :].rsplit(".", 1)
                calls.setdefault(ep, {}).setdefault(s.op, {})[phase] = s
        for ep, ops in calls.items():
            pairs = list(ops.values())
            layers[f"plans.serving.{ep}.build_ms"] = stats.median([c["build"].duration for c in pairs]) * 1e3
            layers[f"plans.serving.{ep}.exec_ms"] = stats.median([c["exec"].duration for c in pairs]) * 1e3
            # Jobs submitted while building (snapshot listing, schema
            # reads) count with the call.
            for n in ("jobs", "tasks"):
                layers[f"plans.serving.{ep}.{n}"] = stats.median(
                    [c["build"].counts[n] + c["exec"].counts[n] for c in pairs]
                )
        layers["io.sinks.read_snapshot_ms"] = stats.median(reads) * 1e3
        layers["plans.pipelines.backfill_s"] = tr.named("serve.build")[0].duration
        layers.update(ctx.layer_summary("serve.request"))

    return {
        "e2e": {"batch_s": build_s, "p50_ms": p50, "throughput_per_s": capacity},
        "samples": {
            "open_latency_s": [[reqs[i][0], latency[i]] for i in range(OPEN_REQUESTS)],
            "closed_latency_s": closed_latency,
            "late_s": late,
        },
        "layers": layers,
        "attempted": len(responses),
        "failed": failed,
        "problems": problems,
        "notes": {
            "serve_p50_ms": layers["loadgen.open_p50_ms"],
            "serve_p75_ms": layers["loadgen.p75_ms"],
            "closed_p50_ms": p50,
            "serve_capacity_qps": capacity,
            "open_requests": OPEN_REQUESTS,
            "open_rate_per_s": OPEN_RATE,
            "closed_requests": closed_n,
            "closed_clients": ctx.cores,
        },
    }
