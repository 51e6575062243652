"""``corpus_dedup``: the LLM-data cleaning pipeline
(``pipeline_corpus_clean``: quality gate, exact fingerprint dedup,
capped MinHash-LSH with exact verification, connected components).

The timed part alternates runs over a small shard of newly arrived
documents with runs over the full corpus, so both the
per-job-overhead-bound and the data-bound shapes are measured. Every
run's kept ids must equal the catalog oracle's answer over the same
file. A traced run puts spans around the calls the pipeline itself
makes into the operator and cache layers."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager, nullcontext

from perfbench import check, gen, stats
from perfbench.trace import self_time

FULL_DOCS = 2500
SHARD_DOCS = 1000
MIN_RUNS = 3  # of each shape; shard and full runs alternate
# Untimed. The JIT keeps compiling through the first few runs: with two
# warm-up runs, the CPU time per run still fell from about 12 s to 7 s
# over the next three.
WARM_UP = ("full", "shard", "full", "shard")


def _write(ctx, name: str, corpus: gen.Corpus) -> str:
    d = os.path.join(ctx.work, "corpus", name)
    gen.write_parquet(gen.documents_table(corpus), os.path.join(d, "documents.parquet"))
    return d


def clean(ctx, sf_dir: str, root: str) -> list[int]:
    from stakehouse_etl_spark.queries.corpus import pipeline_corpus_clean

    tr = ctx.tracer
    with tr.span(root), _release_scope(tr):
        with tr.span("queries.corpus.pipeline_corpus_clean.build"):
            df = pipeline_corpus_clean(ctx.spark, sf_dir)
        with tr.span("queries.corpus.pipeline_corpus_clean.exec"):
            return [r[0] for r in df.collect()]


@contextmanager
def _release_scope(tr):
    """``caches.cache_scope`` with the release in a span of its own."""
    from stakehouse_etl_spark import caches

    mark = len(caches._tracked())
    try:
        yield
    finally:
        with tr.span("caches.release_tracked"):
            caches.release_tracked(mark)


def run(ctx) -> dict:
    full_corpus = gen.corpus(ctx.seed, FULL_DOCS)
    dirs = {
        "full": _write(ctx, "full", full_corpus),
        "shard": _write(ctx, "shard", gen.corpus(ctx.seed, SHARD_DOCS, table="shard0")),
    }
    ctx.mark("generated")
    with ctx.untraced():
        for shape in WARM_UP:
            clean(ctx, dirs[shape], "warm")
    ctx.sess.reset_caches()
    ctx.setup_done()

    tr = ctx.tracer
    seen: dict = {}
    last_full: dict = {}  # the frames of the last full-corpus run
    runs: list[tuple[str, float, list[int]]] = []  # (shape, seconds, kept ids)
    with operator_spans(tr, seen) if tr.enabled else nullcontext():
        while len(runs) < 2 * MIN_RUNS or time.perf_counter() < ctx.deadline:
            shape = "shard" if len(runs) % 2 == 0 else "full"
            t0 = time.perf_counter()
            kept = clean(ctx, dirs[shape], f"dedup.{shape}")
            runs.append((shape, time.perf_counter() - t0, kept))
            if shape == "full":
                last_full = dict(seen)
    tracked_live = ctx.sess.reset_caches()
    ctx.measured()

    con = check.duck(ctx.cores, os.path.join(ctx.work, "tmp"))
    oracle = {
        shape: check.corpus_oracle(con, os.path.join(d, "documents.parquet")) for shape, d in dirs.items()
    }
    con.close()
    problems, failed = [], 0
    for shape, _, kept in runs:
        want = oracle[shape][1]
        if len(kept) != len(set(kept)) or set(kept) != want:
            failed += 1
            problems.append(f"{shape}: {len(kept)} kept ids, oracle keeps {len(want)}")
    ctx.mark("oracle")
    surv, want = oracle["full"]
    planted = [i for i, src in full_corpus.near_dup_of.items() if i in surv and src in surv]
    recall = sum(i not in want for i in planted) / len(planted)

    full_s = [s for shape, s, _ in runs if shape == "full"]
    shard_s = [s for shape, s, _ in runs if shape == "shard"]
    layers = {
        "operators.dedup.planted_recall": recall,
        "caches.tracked_live_after": tracked_live,
        "trace.batch_s": stats.median(full_s),
        "trace.p50_ms": stats.median(shard_s) * 1e3,
    }
    if tr.enabled:
        counts = operator_counts(ctx, last_full)
        tr.finish()
        layers.update(operator_metrics(tr, counts))
        layers.update(ctx.layer_summary("dedup.full"))

    return {
        "e2e": {
            "batch_s": stats.median(full_s),
            "p50_ms": stats.median(shard_s) * 1e3,
            "throughput_per_s": stats.median([FULL_DOCS / s for s in full_s]),
        },
        "layers": layers,
        "attempted": len(runs),
        "failed": failed,
        "problems": problems,
        "notes": {
            "dedup_s": stats.median(full_s),
            "full_runs": len(full_s),
            "shard_runs": len(shard_s),
            "docs_full": FULL_DOCS,
            "docs_shard": SHARD_DOCS,
            "planted_near_dup_recall": recall,
        },
        "samples": {"full_s": full_s, "shard_s": shard_s},
    }


@contextmanager
def operator_spans(tr, seen: dict):
    """While open, the names ``pipeline_corpus_clean`` calls into the
    operator and cache layers are wrapped in spans, so the traced runs
    time the pipeline's own plan:

    - ``operators.dedup.exact``: the one frame the pipeline persists,
      the survivors of the quality gate and the exact fingerprint dedup
      (Spark runs both as one plan). Its ``.exec`` span forces it with a
      count; the pipeline then reads it from the cache, so the only
      added work is that count.
    - ``operators.dedup.lsh``: ``near_dup_pairs`` builds the candidate
      and verification plan; the first checkpoint inside
      ``connected_components`` materializes the verified edges, and
      that is the ``.exec`` span.
    - ``operators.graph.components``: the ``connected_components`` call;
      its self time excludes the edge materialization.

    Each run's fan-out frame, survivors and edges are left in ``seen``
    for :func:`operator_counts`."""
    from stakehouse_etl_spark import caches
    from stakehouse_etl_spark.operators import graph
    from stakehouse_etl_spark.queries import corpus

    orig = (caches.persist_tracked, corpus.fan_out, corpus.near_dup_pairs, corpus.connected_components,
            graph.checkpoint_tracked)
    persist_tracked, fan_out, near_dup_pairs, connected_components, checkpoint_tracked = orig
    edges_pending = [False]

    def traced_fan_out(df, *a, **k):
        seen["wide"] = out = fan_out(df, *a, **k)
        return out

    def traced_persist(df, *a, **k):
        with tr.span("operators.dedup.exact.build"):
            seen["surv"] = out = persist_tracked(df, *a, **k)
        with tr.span("operators.dedup.exact.exec"):
            out.count()
        return out

    def traced_near_dup_pairs(df, *a, **k):
        with tr.span("operators.dedup.lsh.build"):
            seen["edges"] = out = near_dup_pairs(df, *a, **k)
        return out

    def traced_components(edges, *a, **k):
        edges_pending[0] = True
        with tr.span("operators.graph.components"):
            return connected_components(edges, *a, **k)

    def traced_checkpoint(df, *a, **k):
        if not edges_pending[0]:
            return checkpoint_tracked(df, *a, **k)
        edges_pending[0] = False
        with tr.span("operators.dedup.lsh.exec"):
            return checkpoint_tracked(df, *a, **k)

    caches.persist_tracked, corpus.fan_out, corpus.near_dup_pairs = traced_persist, traced_fan_out, traced_near_dup_pairs
    corpus.connected_components, graph.checkpoint_tracked = traced_components, traced_checkpoint
    try:
        yield
    finally:
        (caches.persist_tracked, corpus.fan_out, corpus.near_dup_pairs, corpus.connected_components,
         graph.checkpoint_tracked) = orig


def operator_counts(ctx, seen: dict) -> dict:
    """Counts over one traced full run's own frames, after the timed
    part. The quality gate alone is forced here, over the pipeline's
    fan-out frame: inside the pipeline Spark fuses it with the exact
    dedup."""
    from pyspark.sql import functions as F

    from stakehouse_etl_spark.operators.dedup import lsh_candidates
    from stakehouse_etl_spark.operators.text import quality_keep

    tr = ctx.tracer
    with tr.span("dedup.counts"), _release_scope(tr):
        with tr.span("operators.text.quality.exec"):
            kept = seen["wide"].filter(quality_keep(F.col("text"))).count()
        with tr.span("operators.dedup.lsh_candidates.exec"):
            candidates = lsh_candidates(seen["surv"]).count()
        verified = seen["edges"].count()
    return {"docs_kept": kept, "candidates": candidates, "verified": verified}


def operator_metrics(tr, counts: dict) -> dict:
    """Medians over the traced full-corpus runs, plus the counts."""
    roots = {s.id for s in tr.named("dedup.full")}
    kids = tr.children()

    def med(name: str, own: bool = False) -> float:
        spans = [s for s in tr.spans if s.op in roots and s.name == name]
        return stats.median([self_time(s, kids.get(s.id, [])) if own else s.duration for s in spans])

    return {
        "operators.text.quality_s": tr.named("operators.text.quality.exec")[0].duration,
        "operators.text.docs_kept": counts["docs_kept"],
        "operators.dedup.exact_s": med("operators.dedup.exact.exec"),
        "operators.dedup.lsh_s": med("operators.dedup.lsh.exec"),
        "operators.dedup.lsh_candidates": counts["candidates"],
        "operators.dedup.verified_pairs": counts["verified"],
        "operators.dedup.lsh_useful_ratio": counts["verified"] / max(counts["candidates"], 1),
        "operators.graph.components_s": med("operators.graph.components", own=True),
    }
