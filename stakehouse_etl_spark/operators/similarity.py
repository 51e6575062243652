"""Similarity search over embedding columns.

Two paths:

- ``cosine_topk`` — brute-force top-k: queries × candidates. Correct
  baseline; cost O(|Q|·|C|·dim) — fine for |Q| small (rerank, eval),
  never for all-pairs at 100 TB.
- ``hyperplane_buckets`` / ``ann_lsh_pairs`` — random-hyperplane LSH:
  sign-bit bucket per vector, candidates only within a bucket. The
  scale path: one narrow shuffle on the bucket key instead of a cross
  join.

Determinism contract: embeddings are quantized to integer millis
(round(x·1000)), so dot products and norms are exact integer sums —
identical under any evaluation order and reproducible in DuckDB
(``list_dot_product`` over integer lists sums integer-valued doubles
exactly). Cosine = double(dot)/(sqrt(na)·sqrt(nb)) — one IEEE op
sequence, same in both engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

QUANT = 1000
# Bucket-size cap for the hyperplane-LSH pair join: a degenerate
# bucket (near-parallel corpus, all-zero region of the embedding
# space) produces O(b²) pairs. Over-cap buckets are excluded before
# the self-join; mirrored in the SQL oracles (QUALIFY on the bucket
# count) so capped output stays value-exact cross-engine.
ANN_MAX_BUCKET = 1000

# Fixed random hyperplanes (seed 42), quantized to integers — shared
# verbatim with the SQL oracle generator.
N_PLANES = 8
EMB_DIM = 64
_rng = np.random.RandomState(42)
PLANES: list[list[int]] = (
    np.round(_rng.randn(N_PLANES, EMB_DIM) * QUANT).astype(int).tolist()
)


def quantize(emb: Column) -> Column:
    """float array → exact integer-milli array.

    The multiply is pinned to DOUBLE in both engines: a float32 element
    like 0.31949999928474426f scales to 319.5 under float32 arithmetic
    but 319.4999… under double — one quantization unit apart after
    rounding (found at sf0.1, vec 1879). float→double widening itself
    is exact, so double is the unambiguous common domain."""
    return F.transform(emb, lambda x: F.round(x.cast("double") * QUANT).cast("long"))


def int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def sq_norm(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def cosine(dot: Column, na: Column, nb: Column) -> Column:
    """NULL for zero-norm vectors (cosine undefined; also keeps ANSI
    mode from raising DIVIDE_BY_ZERO) — downstream comparisons then
    drop those candidates naturally."""
    denom = F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    return dot.cast("double") / F.when(denom != 0, denom)


# Auto-dispatch threshold for the Arrow matmul arm of cosine_topk:
# estimated scan bytes × |Q| at which the batch-amortized numpy matmul
# overtakes the per-pair expression dot. Calibrated on the local
# ladder (BASELINE.md): at sf0.1 the product is ~8 MB (expression arm
# wins — no Python worker spin-up), at sf1 ~59 MB and the measured
# matmul advantage is already >2×, growing to 3.1× at sf10. 32 MB
# splits the rungs with ~4× margin on both sides.
ARROW_AUTO_BYTES_DEFAULT = 32 * 1024 * 1024


def _auto_arrow(embeddings: DataFrame, n_queries: int) -> bool:
    """Measurement-driven dispatch (the ``adaptive_cumsum`` pattern,
    operators/windows.py): read Catalyst's optimized-plan size
    estimate — file-source leaves report real file bytes, zero jobs
    run — and pick the Arrow arm when bytes × |Q| crosses the
    calibrated threshold. Unknown / sentinel estimates (> 2^62, i.e.
    CBO couldn't estimate) fall back to the plan-transparent
    expression arm rather than guessing big."""
    import os

    try:
        size = int(
            str(
                embeddings._jdf.queryExecution()  # noqa: SLF001
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
    except Exception:
        return False
    if size <= 0 or size > 1 << 62:
        return False
    try:
        thresh = int(
            os.environ.get(
                "SPARK_GRAFT_ARROW_AUTO_BYTES",
                str(ARROW_AUTO_BYTES_DEFAULT),
            )
        )
    except ValueError:
        # Fail-safe contract (ADVICE r6): a malformed override must
        # not break dispatch — fall back to the calibrated default.
        thresh = ARROW_AUTO_BYTES_DEFAULT
    return size * max(1, n_queries) >= thresh


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    use_arrow: bool | None = None,
) -> DataFrame:
    """Brute-force cosine top-k: the named query vectors against the
    full corpus. The query side is tiny → broadcast; the scan side
    streams once, no shuffle until the per-query top-k (row_number
    over a k-bounded window).

    ``use_arrow=True`` scores via an Arrow-batched ``mapInPandas``
    numpy matmul instead of the per-pair higher-order-function dot —
    value-identical (int64 matmul is exact at these magnitudes; the
    cosine division uses the same IEEE op order; zero-norm vectors map
    to NULL via pd.NA) and measured 3.1× faster at the sf10 rung
    (BASELINE.md), with the gap growing in |Q| since the matmul
    amortizes the batch decode across all queries.

    ``use_arrow=None`` (default) AUTO-DISPATCHES: the Arrow arm when
    Catalyst's size estimate × |Q| crosses ``_auto_arrow``'s threshold
    (scale jobs get the 3× arm without opting in), the pure-expression
    form below it (plan-transparent, zero Python workers for the small
    scans where worker spin-up dominates). Both arms are
    parity-locked by tests/test_lsh_caps.py, so dispatch never changes
    values — only the physical strategy, exactly like AQE.
    """
    if use_arrow is None:
        use_arrow = _auto_arrow(embeddings, len(query_ids))
    q = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            quantize(F.col(emb_col)).alias("q_emb"),
        )
        .withColumn("q_norm", sq_norm(F.col("q_emb")))
    )
    c = embeddings.select(
        F.col(id_col).alias("cand_id"), quantize(F.col(emb_col)).alias("c_emb")
    )
    if use_arrow:
        import pandas as pd  # noqa: PLC0415

        # id dtype follows the input schema (ADVICE r3: a string id
        # worked in the expression arm but crashed here when the
        # output schema hardcoded long) — ids pass through as python
        # objects, only embeddings/norms hit numpy.
        idt = embeddings.schema[id_col].dataType.simpleString()

        q_rows = q.collect()  # bounded: |Q| rows
        Q = np.array([r["q_emb"] for r in q_rows], dtype=np.int64)
        QN = np.array([r["q_norm"] for r in q_rows], dtype=np.float64)
        QIDS = [r["query_id"] for r in q_rows]

        def score(batches):
            for pdf in batches:
                E = np.stack(pdf["c_emb"].to_numpy()).astype(np.int64)
                cids = pdf["cand_id"].to_numpy()
                cn = (E * E).sum(axis=1)
                dots = E @ Q.T  # exact int64
                denom = np.sqrt(cn.astype(np.float64))[:, None] * np.sqrt(
                    QN
                )[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots.astype(np.float64) / denom
                n, m = cos.shape
                out_q = np.tile(np.array(QIDS, dtype=object), n)
                out_c = np.repeat(cids, m)
                flat = cos.ravel()
                sim = pd.array(flat, dtype="Float64")
                sim[np.repeat(denom == 0, 1).reshape(n, m).ravel()] = pd.NA
                yield pd.DataFrame(
                    {"query_id": out_q, "cand_id": out_c, "cos_sim": sim}
                )

        pairs = c.mapInPandas(
            score, f"query_id {idt}, cand_id {idt}, cos_sim double"
        ).filter(F.col("cand_id") != F.col("query_id"))
    else:
        pairs = (
            c.withColumn("c_norm", sq_norm(F.col("c_emb")))
            .join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
            .withColumn("dot", int_dot(F.col("q_emb"), F.col("c_emb")))
            .withColumn(
                "cos_sim",
                cosine(F.col("dot"), F.col("q_norm"), F.col("c_norm")),
            )
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("cand_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos_sim", "rank")
    )


def ivf_centroids(
    embeddings: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF coarse codebook. Deterministic stand-in for k-means
    training: the ``n_cells`` lowest-id vectors are the centroids (a
    deployment trains offline — Spark ML KMeans — and broadcasts the
    codebook through the exact same plan shape; the *search* plan below
    is what matters at scale, not how the codebook was fit)."""
    return (
        embeddings.filter(F.col(id_col) < n_cells)
        .select(
            F.col(id_col).alias("cell"),
            quantize(F.col(emb_col)).alias("c_emb"),
        )
        .withColumn("c_norm", sq_norm(F.col("c_emb")))
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    use_arrow: bool = False,
) -> DataFrame:
    """Assign every vector to its best (max-cosine) cell: corpus ×
    broadcast(codebook) → argmax per vector. One narrow pass over the
    corpus, no shuffle of the vectors themselves; the inverted lists
    exist only logically as the ``cell`` column (at 100 TB you would
    `.repartition("cell")`+persist them as the index).

    ``use_arrow=True``: the argmax runs as an Arrow-batched numpy
    matmul against the collected codebook (bounded: n_cells rows) —
    a pure map, no n_cells× row expansion, no per-vector window
    shuffle; value-identical including the lowest-cell tiebreak and
    zero-norm → cell of index 0. (The EXPRESSION-inlined variant of
    this idea — literal-array dots + array_max — measured 4× slower
    than the window form; the matmul is what wins, not the inlining.)
    """
    if use_arrow:
        import pandas as pd  # noqa: PLC0415

        cents = centroids.select("cell", "c_emb", "c_norm").collect()
        C = np.array([r["c_emb"] for r in cents], dtype=np.int64)
        CN = np.array([r["c_norm"] for r in cents], dtype=np.float64)
        CIDS = np.array([r["cell"] for r in cents], dtype=np.int64)
        order = np.argsort(CIDS)  # ties resolve to the LOWEST cell id
        C, CN, CIDS = C[order], CN[order], CIDS[order]

        def assign(batches):
            for pdf in batches:
                E = np.stack(pdf["q_emb"].to_numpy()).astype(np.int64)
                norm = (E * E).sum(axis=1)
                dots = E @ C.T
                denom = np.sqrt(norm.astype(np.float64))[:, None] * np.sqrt(
                    CN
                )[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(denom != 0, dots / denom, -2.0)
                best = CIDS[np.argmax(cos, axis=1)]  # first max = lowest cell
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "q_emb": pdf["q_emb"],
                        "norm": norm,
                        "cell": best,
                    }
                )

        # id dtype follows the input schema (ADVICE r3) — the id is a
        # passthrough column, so no numpy cast is needed at all.
        idt = embeddings.schema[id_col].dataType.simpleString()
        base = embeddings.select(
            F.col(id_col), quantize(F.col(emb_col)).alias("q_emb")
        )
        return base.mapInPandas(
            assign,
            f"{id_col} {idt}, q_emb array<long>, norm long, cell long",
        )
    scored = (
        embeddings.select(
            F.col(id_col), quantize(F.col(emb_col)).alias("q_emb")
        )
        .withColumn("norm", sq_norm(F.col("q_emb")))
        .join(F.broadcast(centroids))
        .withColumn(
            "c_cos",
            cosine(
                int_dot(F.col("q_emb"), F.col("c_emb")),
                F.col("norm"),
                F.col("c_norm"),
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("c_cos"), F.asc("cell"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "q_emb", "norm", "cell")
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    use_arrow: bool = False,
) -> DataFrame:
    """IVF approximate top-k: each query scores only the vectors in its
    ``n_probe`` closest cells — the classic accuracy/cost dial
    (n_probe = n_cells recovers brute force). Search cost per query
    drops from O(corpus) to O(corpus·n_probe/n_cells); the candidate
    join is an equi-join on ``cell``, never a cross join."""
    cents = ivf_centroids(embeddings, n_cells, id_col, emb_col)
    assign = ivf_assign(embeddings, cents, id_col, emb_col, use_arrow=use_arrow)

    # the query side never needs a cell assignment — derive it straight
    # from the corpus scan (the isin filter pushes into the parquet
    # read), NOT from ``assign``: referencing the full-corpus
    # assignment twice (query side + candidate side) made the whole
    # corpus assign itself twice per run (r3 ladder's 2.65× grower —
    # this was most of it, not the scoring kernel).
    q = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            quantize(F.col(emb_col)).alias("qq_emb"),
        )
        .withColumn("q_norm", sq_norm(F.col("qq_emb")))
    )
    probe_scored = q.join(F.broadcast(cents)).withColumn(
        "p_cos",
        cosine(
            int_dot(F.col("qq_emb"), F.col("c_emb")),
            F.col("q_norm"),
            F.col("c_norm"),
        ),
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("p_cos"), F.asc("cell"))
    probes = (
        probe_scored.withColumn("__rn", F.row_number().over(pw))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", "cell")
    )

    cand0 = assign.join(F.broadcast(probes), "cell").filter(
        F.col(id_col) != F.col("query_id")
    )
    if use_arrow:
        # Candidate SCORING is where IVF spends its time (the r3 scale
        # ladder's worst grower: per-pair higher-order-function dots
        # over corpus·n_probe/n_cells rows). Score in Arrow batches
        # instead: the bounded query set rides into the closure, each
        # batch does one vectorized int64 row-wise product — same
        # exact-integer dot, same IEEE division order, zero-norm →
        # NULL — and the n_probe equi-join shape is unchanged.
        import pandas as pd  # noqa: PLC0415

        idt = embeddings.schema[id_col].dataType.simpleString()
        q_rows = q.collect()  # bounded: |Q| rows
        QE = {r["query_id"]: np.array(r["qq_emb"], dtype=np.int64)
              for r in q_rows}
        QN = {r["query_id"]: float(r["q_norm"]) for r in q_rows}

        def score(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                E = np.stack(pdf["q_emb"].to_numpy()).astype(np.int64)
                qm = np.stack(
                    [QE[v] for v in pdf["query_id"]]
                ).astype(np.int64)
                dots = (E * qm).sum(axis=1)  # exact int64
                qn = np.array(
                    [QN[v] for v in pdf["query_id"]], dtype=np.float64
                )
                cn = pdf["norm"].to_numpy(np.float64)
                denom = np.sqrt(qn) * np.sqrt(cn)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots.astype(np.float64) / denom
                sim = pd.array(cos, dtype="Float64")
                sim[denom == 0] = pd.NA
                yield pd.DataFrame(
                    {
                        "query_id": pdf["query_id"],
                        id_col: pdf[id_col],
                        "cos_sim": sim,
                    }
                )

        cand = cand0.select("query_id", id_col, "q_emb", "norm").mapInPandas(
            score, f"query_id {idt}, {id_col} {idt}, cos_sim double"
        )
    else:
        cand = cand0.join(F.broadcast(q), "query_id").withColumn(
            "cos_sim",
            cosine(
                int_dot(F.col("qq_emb"), F.col("q_emb")),
                F.col("q_norm"),
                F.col("norm"),
            ),
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("cand_id"),
            "cos_sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def bucket_bits(emb_q: Column) -> Column:
    """LSH bucket id: sign bit per hyperplane, packed into a long.
    Integer dot with integer planes — exact, engine-independent."""
    bit_terms = [
        F.when(
            F.aggregate(
                F.zip_with(
                    emb_q,
                    F.array(*[F.lit(v) for v in PLANES[p]]),
                    lambda x, y: x * y,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1 << p),
        ).otherwise(F.lit(0))
        for p in range(N_PLANES)
    ]
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out + t
    return out.cast("long")


def hyperplane_buckets(
    embeddings: DataFrame, id_col: str = "vec_id", emb_col: str = "embedding"
) -> DataFrame:
    """Assign each vector its LSH bucket (+ keep the quantized vector
    and its norm for in-bucket rescoring)."""
    return embeddings.select(
        F.col(id_col),
        quantize(F.col(emb_col)).alias("q_emb"),
    ).select(
        id_col,
        "q_emb",
        sq_norm(F.col("q_emb")).alias("norm"),
        bucket_bits(F.col("q_emb")).alias("bucket"),
    )


def ann_lsh_pairs(
    embeddings: DataFrame,
    min_cosine: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_bucket: int = ANN_MAX_BUCKET,
) -> DataFrame:
    """Embedding near-dup pairs, LSH-bucketed: exact cosine computed
    only within buckets — at 100 TB each vector shuffles once on its
    bucket key; no cross join ever materializes. Buckets above
    ``max_bucket`` members are dropped before pair generation (bounds
    per-bucket output at max_bucket²); each surviving bucket is then
    collected once and i<j pairs are emitted from the id-sorted member
    array (one exchange).

    Recall is governed by N_PLANES (8 → ~|cos| high pairs collide with
    good probability); run multiple plane-sets and union for higher
    recall — same plan shape.

    PRECONDITIONS (ADVICE r11): ``id_col`` must be unique — the
    position-order pair generation relies on it (duplicate-id input
    would emit id_a == id_b self-pairs). ``max_bucket`` also bounds the
    per-row memory at O(max_bucket·dim) — ~0.5 MB at the default 1000;
    a much larger cap (≳10k) makes each collected bucket row large, so
    pre-filter the input instead of raising the cap that far.
    """
    from stakehouse_etl_spark.operators.buckets import drop_oversize_buckets

    b = drop_oversize_buckets(
        hyperplane_buckets(embeddings, id_col, emb_col), ["bucket"], max_bucket
    )
    # r11 (guide §2.3/§2.4): bucket-collect + in-bucket
    # pair generation replaces the bucket-keyed SELF-JOIN. The old
    # shape recomputed the bucketed frame per join side — the scan,
    # the quantize, and all 8 interpreted hyperplane dots ran TWICE —
    # and paid two bucket exchanges plus a pairs-scale distinct that
    # is a no-op (each vector lives in exactly ONE bucket, so a pair
    # can only arise once; the oracle has no DISTINCT either). The
    # window cap stays (its spillable per-group buffer bounds memory
    # on a hot bucket BEFORE collect_list sees it), and groupBy on
    # the window's own partitioning key adds no exchange — one
    # corpus-scale shuffle total. Pairs are generated in TWO explode
    # steps so per-row memory stays O(cap · dim) (a flattened pair
    # array with embedding payloads would materialize ~cap²·dim longs
    # for one max-cap bucket). Position order over the id-sorted
    # member array reproduces id_a < id_b exactly (ids unique within
    # a bucket); the dot/cosine expressions are bound once in a
    # projection instead of evaluating in both join condition and
    # output project.
    members = (
        b.filter(F.col(id_col).isNotNull())
        .groupBy("bucket")
        .agg(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"),
                    F.col("q_emb").alias("e"),
                    F.col("norm").alias("n"),
                )
            ).alias("__ms")
        )
        .select(F.array_sort("__ms").alias("__ms"))
    )
    tail = F.slice(
        F.col("__ms"),
        F.col("__i") + F.lit(2),
        F.greatest(F.size("__ms") - F.col("__i") - 1, F.lit(0)),
    )
    return (
        members.select(
            F.posexplode("__ms").alias("__i", "__a"), F.col("__ms")
        )
        .select("__a", F.explode(tail).alias("__b"))
        .select(
            F.col("__a.id").alias("id_a"),
            F.col("__b.id").alias("id_b"),
            int_dot(F.col("__a.e"), F.col("__b.e")).alias("dot"),
            F.col("__a.n").alias("norm_a"),
            F.col("__b.n").alias("norm_b"),
        )
        .withColumn(
            "cos_sim", cosine(F.col("dot"), F.col("norm_a"), F.col("norm_b"))
        )
        .filter(F.col("cos_sim") >= min_cosine)
        .select("id_a", "id_b", "cos_sim")
    )
