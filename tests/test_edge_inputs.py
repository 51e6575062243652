"""Edge-input robustness: every core operator must run (and return the
right empty/degenerate shape) on empty tables, single rows, and short
documents — the failure class the sf tests can't see (the shingles
sequence(1,0) crash lived here)."""

from __future__ import annotations

from pyspark.sql import functions as F

from stakehouse_etl_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash,
    simhash_near_pairs,
)
from stakehouse_etl_spark.operators.similarity import cosine_topk, ivf_topk
from stakehouse_etl_spark.operators.windows import (
    cumulative_income,
    spike_filter,
    top_k_per_group,
    trailing_delta,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_ladder_on_empty_and_short_docs(spark):
    empty = _docs(spark, [])
    short = _docs(spark, [(1, ""), (2, "one"), (3, "two words"), (4, "a b c a b c")])
    for df in (empty, short):
        assert exact_dedup(df).count() >= 0
        assert minhash_signatures(df).count() >= 0
        assert jaccard_pairs(df).count() >= 0
        assert minhash_lsh_pairs(df).count() >= 0
        assert simhash(df).count() >= 0
        assert simhash_near_pairs(df).count() >= 0
    # docs with < 3 tokens have no shingles → no signature row
    assert {r.doc_id for r in minhash_signatures(short).collect()} == {4}
    # identical content → one fingerprint group of size 2 is impossible
    # here, but the empty doc must still fingerprint
    assert exact_dedup(short).count() == 4


def test_windows_on_empty_and_singleton(spark):
    empty = spark.createDataFrame([], "bls_key string, epoch long, balance double")
    one = spark.createDataFrame(
        [("a", 5, 10.0)], "bls_key string, epoch long, balance double"
    )
    assert cumulative_income(empty).count() == 0
    got = cumulative_income(one, money_scale=100).collect()
    assert len(got) == 1 and got[0].earnings == 0.0 and got[0].losses == 0.0
    assert spike_filter(one, key="bls_key", time="epoch", value="balance").count() == 1
    assert top_k_per_group(empty, "bls_key", "epoch", 3).count() == 0
    assert trailing_delta(one, value="balance", min_rows=1).count() == 1
    assert trailing_delta(one, value="balance", min_rows=2).count() == 0


def test_similarity_on_degenerate_inputs(spark):
    # zero vector: norm 0 → cosine NULL → must not crash or emit rows
    emb = spark.createDataFrame(
        [(0, [0.0] * 64), (1, [1.0] * 64), (2, [1.0] * 64)],
        "vec_id long, embedding array<float>",
    )
    out = cosine_topk(emb, query_ids=[1], k=5).collect()
    assert all(r.query_id == 1 for r in out)
    assert any(r.cand_id == 2 and abs(r.cos_sim - 1.0) < 1e-12 for r in out)
    assert ivf_topk(emb, query_ids=[1], k=5, n_cells=2, n_probe=1).count() >= 1

    nothing = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert cosine_topk(nothing, query_ids=[1], k=5).count() == 0


def test_text_kernels_on_degenerate_docs(spark):
    from pyspark.sql import functions as F

    from stakehouse_etl_spark.operators.text import (
        bpe_pretokens,
        chunk_docs,
        feature_hash,
        winnow_fingerprints,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "x"), (3, "   "), (4, "a b"), (5, "!!! ??")],
        "doc_id long, text string",
    )
    # chunker: every doc yields at least one chunk, offsets start at 0
    ch = chunk_docs(docs, chunk_tokens=4, overlap=1).collect()
    assert {r.doc_id for r in ch} == {1, 2, 3, 4, 5}
    assert all(r.token_start == 0 for r in ch if r.chunk_idx == 0)
    # pre-tokens: empty/whitespace-only docs yield zero pre-tokens
    pts = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(bpe_pretokens(F.col("text"))).alias("n")
        ).collect()
    }
    assert pts[1] == 0 and pts[3] == 0 and pts[2] == 1
    # winnowing: sub-k-gram docs produce no fingerprints, no crash
    fps = winnow_fingerprints(docs, k=3, w=4).collect()
    assert {r.doc_id for r in fps} <= {5}  # only multi-token docs can
    # feature hashing: no empty-token buckets
    fh = feature_hash(docs).collect()
    assert all(r.cnt > 0 for r in fh)
    assert not [r for r in fh if r.doc_id in (1, 3)]


def test_rank_kernels_on_singleton_and_empty(spark):
    from stakehouse_etl_spark.operators.windows import (
        global_prefix_sum,
        skew_resistant_rank,
    )

    one = spark.createDataFrame([(7, 42)], "id long, v long")
    assert skew_resistant_rank(one, "v", "id").collect()[0].rank == 1
    assert global_prefix_sum(one, "id", "v").collect()[0].cum == 42
    empty = one.filter("id < 0")
    assert skew_resistant_rank(empty, "v", "id").count() == 0
    assert global_prefix_sum(empty, "id", "v").count() == 0


def test_near_dup_pairs_empty_and_tiny_inputs(spark):
    """Empty corpus and sub-shingle-length docs produce zero pairs,
    not errors, on the LSH tier and the exact self-join."""
    from stakehouse_etl_spark.operators.dedup import (
        jaccard_pairs,
        near_dup_pairs,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert near_dup_pairs(empty).count() == 0
    assert jaccard_pairs(empty).count() == 0
    tiny = spark.createDataFrame(
        [(1, "one two"), (2, "three")], "doc_id long, text string"
    )  # < 3 tokens -> no shingles
    assert near_dup_pairs(tiny).count() == 0


def test_soak_empty_input_fails_loud(spark):
    import tempfile

    import pytest

    from stakehouse_etl_spark.queries.soak import run_soak_cycles

    empty = spark.createDataFrame(
        [], "bls_key long, epoch long, balance double"
    )
    with pytest.raises(ValueError, match="empty balance input"):
        run_soak_cycles(spark, empty, tempfile.mkdtemp(prefix="soak_e_"))
