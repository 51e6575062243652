"""Mechanism pins for the bucketed gram-index arm (PLANS.md Round-9).

``stream_span_scrub_bucketed`` exists because a plain-parquet index
forces the per-batch probe join to SHUFFLE the whole stored index
(O(state) per micro-batch, measured as a ~+1.5%/batch rise in the
20-batch sf10 fuzz). The two properties that make the bucketed arm an
escalation — shuffle-free index side, partition-exact retry — are
pinned here at unit scale so a Spark upgrade or refactor that silently
loses either fails CI, not a cluster bill.
"""

from __future__ import annotations

import re
import uuid

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def idx_table(spark):
    tbl = f"test_gram_idx_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    yield tbl
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def _grams(spark, lo: int, hi: int, bid: int):
    return spark.range(lo, hi).select(
        F.md5(F.col("id").cast("string")).alias("gram"),
        F.lit(bid).alias("bid"),
    )


def _land(df, tbl: str, first: bool) -> None:
    if first:
        df.write.partitionBy("bid").bucketBy(8, "gram").sortBy(
            "gram"
        ).mode("overwrite").saveAsTable(tbl)
    else:
        df.select("gram", "bid").write.insertInto(tbl, overwrite=True)


def test_bucketed_probe_shuffles_only_the_batch_side(spark, idx_table):
    _land(_grams(spark, 0, 1000, 0), idx_table, first=True)
    _land(_grams(spark, 1000, 2000, 1), idx_table, first=False)
    probe = spark.range(500).select(
        F.md5(F.col("id").cast("string")).alias("gram")
    )
    idx = (
        spark.table(idx_table)
        .filter(F.col("bid") < 2)
        .select("gram")
        .hint("MERGE")
    )
    j = probe.join(idx, "gram", "left_semi")
    plan = j._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        j._jdf.queryExecution(), "formatted"
    )
    shuffles = len(re.findall(r"\(\d+\) Exchange", plan))
    assert shuffles == 1, plan  # batch side only; bucketed scan is free
    assert "SortMergeJoin" in plan, plan


def test_dynamic_overwrite_makes_batch_retry_idempotent(spark, idx_table):
    _land(_grams(spark, 0, 100, 0), idx_table, first=True)
    _land(_grams(spark, 100, 200, 1), idx_table, first=False)
    assert spark.table(idx_table).count() == 200
    # Micro-batch retry: re-insert bid=1 — replaces the partition, no
    # duplicate rows, other partitions untouched.
    _land(_grams(spark, 100, 200, 1), idx_table, first=False)
    assert spark.table(idx_table).count() == 200
    assert (
        spark.table(idx_table).filter(F.col("bid") == 0).count() == 100
    )


def test_bucketed_arm_matches_plain_arm(spark, sf_dir):
    from stakehouse_etl_spark.queries.catalog import QUERIES

    plain = {
        (r["doc_id"], r["cleaned_fp"], r["n_kept"], r["batch_no"])
        for r in QUERIES["stream_span_scrub"].fn(spark, sf_dir).collect()
    }
    bucketed = {
        (r["doc_id"], r["cleaned_fp"], r["n_kept"], r["batch_no"])
        for r in QUERIES["stream_span_scrub_bucketed"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert plain == bucketed


def test_compaction_preserves_scrub_output(spark, sf_dir, monkeypatch):
    """Run the bucketed span arm with compaction triggering TWICE
    (6 batches, compact every 2) and assert the scrub output still
    equals the plain arm's — the presence-set crash-safety argument
    (duplicates inert under semi/anti probes) plus the pre-batch-only
    compaction window, exercised end-to-end."""
    from stakehouse_etl_spark.queries.catalog import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_STREAM_BATCHES", "6")
    monkeypatch.setenv("SPARK_GRAFT_SPAN_COMPACT_EVERY", "2")
    plain = {
        (r["doc_id"], r["cleaned_fp"], r["n_kept"], r["batch_no"])
        for r in QUERIES["stream_span_scrub"].fn(spark, sf_dir).collect()
    }
    bucketed = {
        (r["doc_id"], r["cleaned_fp"], r["n_kept"], r["batch_no"])
        for r in QUERIES["stream_span_scrub_bucketed"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert plain == bucketed


def test_bucketed_dedup_arm_matches_plain_arm(spark, sf_dir):
    from stakehouse_etl_spark.queries.catalog import QUERIES

    plain = {
        (r["doc_id"], r["batch_no"])
        for r in QUERIES["stream_incremental_dedup"]
        .fn(spark, sf_dir)
        .collect()
    }
    bucketed = {
        (r["doc_id"], r["batch_no"])
        for r in QUERIES["stream_incremental_dedup_bucketed"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert plain == bucketed


def test_probed_core_caps_exactly_like_the_window_form(spark, tmp_path):
    """The bucketed dedup arm probes its stored index through the
    window-capped kernel: fed the corpus side from bucketed catalog
    tables (laid out as ``stream_incremental_dedup_bucketed`` lands
    them), the cap must drop exactly the rows it drops on plain frames
    — build a corpus with one over-cap band bucket and assert both
    inputs keep the same ids.
    """
    from stakehouse_etl_spark.operators.dedup import (
        incremental_minhash_dedup_indexed,
    )

    # 6 corpus docs + 2 batch docs share band (0, "hot") → bucket of
    # 8 > cap 5; one other bucket stays under cap and verifies a real
    # near-dup pair (identical singleton sets → Jaccard 100).
    cb = spark.createDataFrame(
        [(i, 0, "hot") for i in range(6)] + [(6, 1, "cold")],
        "doc_id long, band_idx int, band_key string",
    )
    cs = spark.createDataFrame(
        [(i, ["x"], 1) for i in range(7)],
        "doc_id long, shingle_set array<string>, n_sh long",
    )
    bb = spark.createDataFrame(
        [(10, 0, "hot"), (11, 0, "hot"), (12, 1, "cold")],
        "doc_id long, band_idx int, band_key string",
    )
    bs = spark.createDataFrame(
        [(10, ["x"], 1), (11, ["x"], 1), (12, ["x"], 1)],
        "doc_id long, shingle_set array<string>, n_sh long",
    )
    ids = spark.createDataFrame([(10,), (11,), (12,)], "doc_id long")

    tag = uuid.uuid4().hex[:12]
    bands_tbl, sets_tbl = f"test_bands_{tag}", f"test_sets_{tag}"
    try:
        cb.withColumn("bno", F.lit(0)).write.partitionBy("bno").bucketBy(
            4, "band_idx", "band_key"
        ).sortBy("band_idx", "band_key").option(
            "path", str(tmp_path / "bands")
        ).saveAsTable(bands_tbl)
        cs.withColumn("bno", F.lit(0)).write.partitionBy("bno").bucketBy(
            4, "doc_id"
        ).sortBy("doc_id").option("path", str(tmp_path / "sets")).saveAsTable(
            sets_tbl
        )
        args = dict(threshold_pct=20, max_bucket=5)
        window_form = {
            r["doc_id"]
            for r in incremental_minhash_dedup_indexed(
                cb, cs, bb, bs, ids, **args
            ).collect()
        }
        probed_form = {
            r["doc_id"]
            for r in incremental_minhash_dedup_indexed(
                spark.table(bands_tbl)
                .filter(F.col("bno") < 1)
                .select("doc_id", "band_idx", "band_key"),
                spark.table(sets_tbl)
                .filter(F.col("bno") < 1)
                .select("doc_id", "shingle_set", "n_sh"),
                bb,
                bs,
                ids,
                **args,
            ).collect()
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {bands_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {sets_tbl}")
    # hot bucket capped → docs 10/11 keep (no candidates); cold bucket
    # under cap → doc 12 verified against doc 6 (J=1.0 ≥ 0.2) → drop.
    assert window_form == {10, 11}
    assert probed_form == window_form


def test_crash_resume_replays_torn_batch(spark, sf_dir, tmp_path):
    """In-session kill/resume pin for the resumable core (the
    cross-process twin runs at sf10 via tools/stream_resume.py,
    STREAMRESUME_r10.json): inject a crash in batch 1 AFTER the
    scrubbed-output write but BEFORE the index landing — the torn
    mid-batch state — then re-enter the same workdir. The checkpoint
    must replay exactly the torn batch and the final output must equal
    an uninterrupted run's."""
    import uuid as _uuid

    from stakehouse_etl_spark.queries.pipeline75 import (
        span_scrub_bucketed_run,
    )

    def rows(df):
        return {
            (r["doc_id"], r["cleaned_fp"], r["n_kept"], r["batch_no"])
            for r in df.collect()
        }

    ref_tbl = f"gram_idx_test_ref_{_uuid.uuid4().hex[:8]}"
    res_tbl = f"gram_idx_test_res_{_uuid.uuid4().hex[:8]}"
    try:
        ref = rows(
            span_scrub_bucketed_run(
                spark, sf_dir, str(tmp_path / "ref"), ref_tbl
            )
        )
        workdir = str(tmp_path / "crash")
        with pytest.raises(Exception, match="injected mid-batch crash"):
            span_scrub_bucketed_run(
                spark, sf_dir, workdir, res_tbl, fail_mid_batch=1
            )
        resumed = rows(
            span_scrub_bucketed_run(spark, sf_dir, workdir, res_tbl)
        )
        assert resumed == ref
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ref_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {res_tbl}")


def test_plain_dedup_compaction_preserves_output(spark, sf_dir, monkeypatch):
    """The plain arm's band/set-index compaction (every K batches)
    must be value-invisible: 6 batches with compaction at K=2 equals
    compaction disabled."""
    from stakehouse_etl_spark.queries.catalog import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_STREAM_BATCHES", "6")

    def run():
        return {
            (r["doc_id"], r["batch_no"])
            for r in QUERIES["stream_incremental_dedup"]
            .fn(spark, sf_dir)
            .collect()
        }

    monkeypatch.setenv("SPARK_GRAFT_DEDUP_COMPACT_EVERY", "2")
    compacted = run()
    monkeypatch.setenv("SPARK_GRAFT_DEDUP_COMPACT_EVERY", "0")
    plain = run()
    assert compacted == plain
