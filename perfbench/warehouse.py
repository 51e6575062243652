"""The reference's production loop composed from the package's public
functions: balances land as parquet batches; each step turns the new
epochs into income, index membership, index APR and the earnings
interface, publishes the last two as snapshots, and reads one back
through the serving layer. ``etl_incremental`` times these steps;
``serve_mixed`` builds its warehouse with the same code."""

from __future__ import annotations

import os
from dataclasses import dataclass

from perfbench import gen

EPOCHS_PER_BUCKET = 64
# Index APR is recomputed for the new epochs plus this many before them:
# the spike filter needs each new row's left neighbour.
APR_MARGIN = 8


@dataclass
class Paths:
    root: str

    def __getattr__(self, name: str) -> str:
        return os.path.join(self.root, name)


class Warehouse:
    def __init__(self, spark, tracer, root: str, chain: gen.Chain, seed: int) -> None:
        self.spark = spark
        self.tr = tracer
        self.chain = chain
        self.p = Paths(root)
        transfers = gen.transfer_events_table(seed, chain)
        gen.write_parquet(transfers, self.p.transfers + "/part-0.parquet")
        self.probe_index = busiest_index(transfers)

    def land(self, batch: int, lo: int, hi: int) -> int:
        """Write chain epoch columns ``[lo, hi)`` as one new input batch;
        returns the balance rows landed."""
        bal = gen.balances_table(self.chain, lo, hi)
        gen.write_parquet(bal, f"{self.p.balances}/batch-{batch:05d}.parquet")
        gen.write_parquet(gen.withdrawals_table(self.chain, lo, hi), f"{self.p.withdrawals}/batch-{batch:05d}.parquet")
        return bal.num_rows

    def step(self, lo_epoch: int, hi_epoch: int, first: bool) -> bool:
        """Process the epochs ``[lo_epoch, hi_epoch]`` that just landed.
        Returns whether the serving read saw ``hi_epoch``."""
        from pyspark.sql import functions as F

        from stakehouse_etl_spark.io import sinks
        from stakehouse_etl_spark.plans import pipelines, serving
        from stakehouse_etl_spark.streaming.incremental import incremental_income_run

        spark, tr, p = self.spark, self.tr, self.p
        with tr.span("streaming.incremental.run"):
            incremental_income_run(
                spark,
                spark.read.parquet(p.balances),
                state_path=p.state,
                income_path=p.income,
                withdrawals=spark.read.parquet(p.withdrawals),
                money_scale=100,
                epochs_per_bucket=EPOCHS_PER_BUCKET,
            )
        with tr.span("plans.pipelines.validator_indexes.build"):
            members_new = pipelines.validator_indexes_from_transfers(
                spark.read.parquet(p.transfers), gen.GENESIS_BLOCK, lo_epoch, hi_epoch
            )
        with tr.span("plans.pipelines.validator_indexes.exec"), tr.span("io.sinks.write_time_partitioned"):
            sinks.write_time_partitioned(
                spark, members_new, p.membership, keys=["bls_key", "epoch"], epochs_per_bucket=EPOCHS_PER_BUCKET
            )

        income = spark.read.parquet(p.income)
        members = spark.read.parquet(p.membership)
        with tr.span("plans.pipelines.index_epoch_apr.build"):
            if first:
                apr = pipelines.index_epoch_apr(income, members)
            else:
                fresh = pipelines.index_epoch_apr(income, members, lo_epoch=lo_epoch - APR_MARGIN)
                with tr.span("io.sinks.read_snapshot"):
                    prev = sinks.read_snapshot(spark, p.index_apr)
                apr = prev.filter(F.col("epoch") < lo_epoch - 1).unionByName(
                    fresh.filter(F.col("epoch") >= lo_epoch - 1)
                )
        with tr.span("plans.pipelines.index_epoch_apr.exec"), tr.span("io.sinks.write_snapshot"):
            sinks.write_snapshot(spark, apr, p.index_apr)
        with tr.span("plans.pipelines.earnings_interface.build"):
            earnings = pipelines.earnings_interface(income)
        with tr.span("plans.pipelines.earnings_interface.exec"), tr.span("io.sinks.write_snapshot"):
            sinks.write_snapshot(spark, earnings, p.earnings)

        with tr.span("io.sinks.read_snapshot"):
            snap = sinks.read_snapshot(spark, p.index_apr)
        with tr.span("plans.serving.index_apr_recent.build"):
            latest = serving.index_apr_recent(snap, self.probe_index, 1)
        with tr.span("plans.serving.index_apr_recent.exec"):
            rows = latest.collect()
        return len(rows) == 1 and rows[0]["epoch"] == hi_epoch

    def publish_serving_dims(self, seed: int) -> None:
        """The remaining tables the serving endpoints read, written
        through the snapshot sink: daily APR (derived by the pipeline),
        slot withdrawals, threat monitoring and the index map."""
        from stakehouse_etl_spark.io import sinks
        from stakehouse_etl_spark.plans import pipelines

        spark, tr, p = self.spark, self.tr, self.p
        with tr.span("plans.pipelines.daily_apr.build"):
            daily = pipelines.daily_apr(spark.read.parquet(p.income))
        with tr.span("plans.pipelines.daily_apr.exec"), tr.span("io.sinks.write_snapshot"):
            sinks.write_snapshot(spark, daily, p.daily_apr)
        for name, table in (
            ("slot_withdrawals", gen.slot_withdrawals_table(seed, self.chain)),
            ("threat", gen.threat_table(seed, self.chain)),
            ("index_map", gen.index_map_table(seed, self.chain)),
        ):
            src = os.path.join(p.root, "inputs", name, "part-0.parquet")
            gen.write_parquet(table, src)
            with tr.span("io.sinks.write_snapshot"):
                sinks.write_snapshot(spark, spark.read.parquet(os.path.dirname(src)), getattr(p, name))

    def live_dirs(self) -> list[str]:
        """Directories holding the current state: the income, state and
        membership tables and the newest version of each snapshot."""
        p = self.p
        out = [p.income, p.state, p.membership]
        for snap in (p.index_apr, p.earnings):
            versions = [int(d[2:]) for d in os.listdir(snap) if d.startswith("v=")]
            out.append(os.path.join(snap, f"v={max(versions)}"))
        return out

    def output_dirs(self) -> list[str]:
        p = self.p
        return [p.income, p.state, p.membership, p.index_apr, p.earnings]


def busiest_index(transfers) -> int:
    """The index with the most members after the last transfer, so the
    probe read always finds rows."""
    last: dict[str, int] = {}
    for key, block, value in sorted(
        zip(*(transfers.column(c).to_pylist() for c in ("bls_key", "block_number", "value"))),
        key=lambda r: r[1],
    ):
        last[key] = int(value.split("-")[1])
    counts: dict[int, int] = {}
    for idx in last.values():
        counts[idx] = counts.get(idx, 0) + 1
    return max(sorted(counts), key=counts.get)
