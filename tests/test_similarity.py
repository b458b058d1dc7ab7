"""Direct tests for the similarity operators (ANN + near-dup pairs).

The oracle-parity suite covers the driver queries end-to-end; these
tests pin the operator contracts themselves: multi-band LSH recall on
true duplicates, exact-precision verification, and the no-nested-loop
plan shape that makes ``cosine_neardup_pairs`` the 100 TB path.
"""

import math

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from yandex_tracker_exporter_spark.operators.similarity import (
    cosine_neardup_pairs,
    cosine_topk,
    lsh_bucket_key,
)

DIM = 16

VEC_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("embedding", ArrayType(FloatType()), False),
    ]
)


def _mk_vec(seed: int) -> list[float]:
    """Deterministic pseudo-random unit-ish vector (no RNG state)."""
    raw = [
        math.sin(seed * 37.0 + d * 11.0) + math.cos(seed * 13.0 + d * 7.0) * 0.5
        for d in range(DIM)
    ]
    return [float(x) for x in raw]


@pytest.fixture(scope="module")
def corpus(spark):
    """20 base vectors + exact duplicates of the first 5 (ids 100..104)
    + a near-duplicate of vector 6 (id 200, tiny perturbation)."""
    rows = [(i, _mk_vec(i)) for i in range(20)]
    rows += [(100 + i, _mk_vec(i)) for i in range(5)]  # exact dups
    near = _mk_vec(6)
    near[0] *= 1.01
    rows.append((200, near))
    return spark.createDataFrame(rows, VEC_SCHEMA)


def _true_cosine(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb)


def test_neardup_finds_exact_duplicates(spark, corpus):
    out = cosine_neardup_pairs(
        corpus, threshold=0.95, num_planes=6, num_bands=4, dim=DIM
    )
    pairs = {(r.a_id, r.b_id): r.cosine_sim for r in out.collect()}
    # identical vectors share every bucket in every band -> recall 1.0
    for i in range(5):
        assert (i, 100 + i) in pairs, f"exact duplicate pair ({i},{100+i}) missed"
        assert pairs[(i, 100 + i)] == pytest.approx(1.0, abs=1e-12)
    # the planted near-dup collides with overwhelming probability
    assert (6, 200) in pairs


def test_neardup_precision_is_exact(spark, corpus):
    """Every emitted pair must truly satisfy the threshold (LSH affects
    recall only — candidates are verified with the exact cosine)."""
    vecs = {r.vec_id: list(r.embedding) for r in corpus.collect()}
    out = cosine_neardup_pairs(
        corpus, threshold=0.95, num_planes=6, num_bands=4, dim=DIM
    ).collect()
    assert out, "expected at least the planted duplicate pairs"
    for r in out:
        assert r.a_id < r.b_id
        true_cos = _true_cosine(vecs[r.a_id], vecs[r.b_id])
        assert true_cos >= 0.95
        assert r.cosine_sim == pytest.approx(true_cos, rel=1e-9)


def test_neardup_no_pairs_below_threshold(spark, corpus):
    """Dissimilar vectors may collide in a band, but verification must
    drop them: result == brute-force qualifying pairs ∩ candidates."""
    vecs = {r.vec_id: list(r.embedding) for r in corpus.collect()}
    qualifying = {
        (a, b)
        for a in vecs
        for b in vecs
        if a < b and _true_cosine(vecs[a], vecs[b]) >= 0.95
    }
    out = {
        (r.a_id, r.b_id)
        for r in cosine_neardup_pairs(
            corpus, threshold=0.95, num_planes=6, num_bands=4, dim=DIM
        ).collect()
    }
    assert out <= qualifying


def test_neardup_plan_has_no_nested_loop(spark, corpus):
    """The scale contract: banded equi-join, never an all-pairs join."""
    out = cosine_neardup_pairs(
        corpus, threshold=0.9, num_planes=6, num_bands=2, dim=DIM
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_auto_num_planes_operating_points():
    """planes ≈ log2(n) − 3, clamped to [10, 28] (the floor keeps small
    corpora on the contract-parity default; the ceiling keeps int32
    bucket keys exact)."""
    from yandex_tracker_exporter_spark.operators.similarity import (
        auto_num_planes,
    )

    assert auto_num_planes(0) == 10
    assert auto_num_planes(8_000) == 10  # floor clamp
    assert auto_num_planes(400_000) == 15  # the round-9 remedy regime
    assert auto_num_planes(100_000_000) == 23
    assert auto_num_planes(10**12) == 28  # ceiling clamp


def test_neardup_auto_planes_equals_explicit(spark, corpus):
    """The auto≡explicit twin (VERDICT r9 #1): "auto" must be exactly
    the same operator as the explicit plane count it resolves to —
    both when the corpus is counted (26 vectors → floor 10, the
    contract default) and when the caller supplies n_vectors (400k →
    15 planes, the measured factor-100 remedy point)."""
    kw = dict(threshold=0.9, num_bands=4, dim=DIM)
    counted = sorted(
        tuple(r)
        for r in cosine_neardup_pairs(corpus, num_planes="auto", **kw).collect()
    )
    explicit10 = sorted(
        tuple(r)
        for r in cosine_neardup_pairs(corpus, num_planes=10, **kw).collect()
    )
    assert counted == explicit10
    hinted = sorted(
        tuple(r)
        for r in cosine_neardup_pairs(
            corpus, num_planes="auto", n_vectors=400_000, **kw
        ).collect()
    )
    explicit15 = sorted(
        tuple(r)
        for r in cosine_neardup_pairs(corpus, num_planes=15, **kw).collect()
    )
    assert hinted == explicit15


def test_neardup_rejects_non_int_planes(spark, corpus):
    """A float (or other junk) plane count fails loudly instead of
    silently truncating inside the kernel."""
    with pytest.raises(TypeError, match="num_planes"):
        cosine_neardup_pairs(corpus, num_planes=10.5, dim=DIM)


def test_multiband_families_are_independent(spark, corpus):
    """offset must select a different plane family per band — otherwise
    banding degenerates to one band."""
    sample = corpus.limit(8).select(
        "vec_id",
        *[
            lsh_bucket_key("embedding", 6, DIM, offset=b * 6).alias(f"b{b}")
            for b in range(3)
        ],
    )
    rows = sample.collect()
    cols = [[getattr(r, f"b{b}") for r in rows] for b in range(3)]
    assert cols[0] != cols[1] and cols[1] != cols[2]


def test_ivf_assignment_is_map_only(spark, corpus):
    """The 100 TB contract for IVF: cluster assignment must not shuffle
    the corpus — no Exchange partitioned on the vector id, exactly one
    Window (the final per-query top-k), no nested-loop expansion."""
    import re

    from yandex_tracker_exporter_spark.operators.similarity import ivf_topk

    queries = corpus.where(F.col("vec_id") < 2)
    out = ivf_topk(corpus, queries, k=3, num_centroids=4, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(vec_id" not in plan
    assert len(re.findall(r"\bWindow ", plan)) == 1
    assert "CartesianProduct" not in plan


def test_ivf_matches_windowed_reference(spark, corpus):
    """array_max/array_sort centroid ranking ≡ the row_number window
    formulation (cosine desc, centroid id asc tie-break)."""
    from pyspark.sql import Window

    from yandex_tracker_exporter_spark.operators.similarity import cosine, ivf_topk

    queries = corpus.where(F.col("vec_id") < 3)
    got = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in ivf_topk(corpus, queries, k=3, num_centroids=4, nprobe=2).collect()
    }

    cents = corpus.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("_cv")
    )

    def assign(df, n):
        scored = df.crossJoin(F.broadcast(cents)).withColumn(
            "_cd", cosine("embedding", "_cv")
        )
        w = Window.partitionBy(df["vec_id"]).orderBy(
            F.col("_cd").desc(), F.col("centroid_id").asc()
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= n)
            .select(df["vec_id"], "embedding", "centroid_id")
        )

    assigned = assign(corpus, 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_nv"),
        F.col("centroid_id"),
    )
    probes = assign(queries, 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
        F.col("centroid_id"),
    )
    cand = probes.join(assigned, "centroid_id").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    ref = (
        cand.select(
            "query_id",
            "neighbor_id",
            cosine("_qv", "_nv").alias("cosine_sim"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 3)
    )
    want = {(r.query_id, r.neighbor_id): r.cosine_sim for r in ref.collect()}
    assert set(got) == set(want)
    for key in got:
        assert got[key] == pytest.approx(want[key], rel=1e-12)


def test_cosine_topk_exact_neighbors(spark, corpus):
    """Brute-force baseline agrees with a driver-side recompute."""
    vecs = {r.vec_id: list(r.embedding) for r in corpus.collect()}
    queries = corpus.where(F.col("vec_id") == 0)
    out = cosine_topk(corpus, queries, k=3).collect()
    assert len(out) == 3
    expected = sorted(
        ((b, _true_cosine(vecs[0], vecs[b])) for b in vecs if b != 0),
        key=lambda t: (-t[1], t[0]),
    )[:3]
    got = sorted(out, key=lambda r: (-r.cosine_sim, r.neighbor_id))
    for (eid, ecos), r in zip(expected, got):
        assert r.neighbor_id == eid
        assert r.cosine_sim == pytest.approx(ecos, rel=1e-9)


def test_neardup_kernels_match_expression_path(spark):
    """The Arrow prep/scoring kernels must be BIT-identical to the JVM
    expression path (norm / multiband_projections /
    band_key_from_projections / dot): same left-fold order, exact casts.
    This is what licenses swapping them under the same DuckDB oracle."""
    import numpy as np
    from pyspark.sql import functions as F

    from yandex_tracker_exporter_spark.operators.similarity import (
        _neardup_prep_kernel,
        _pair_cosine_kernel,
        band_key_from_projections,
        dot,
        multiband_projections,
        norm,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(100)
        .repartition(4)
    )
    prep = _neardup_prep_kernel(10, 8, 64)
    got = {
        r.vec_id: (r.p.nrm, list(r.p.buckets))
        for r in emb.select("vec_id", prep("embedding").alias("p")).collect()
    }
    expr = (
        emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("_v"),
        )
        .withColumn("_nrm", norm("_v"))
        .withColumn("_proj", multiband_projections(F.col("_v"), 10, 8, 64))
        .select(
            "vec_id",
            "_nrm",
            F.array(
                *[band_key_from_projections(F.col("_proj"), b, 10) for b in range(8)]
            ).alias("_buckets"),
        )
    )
    want = {r.vec_id: (r._nrm, list(r._buckets)) for r in expr.collect()}
    assert got == want  # exact float equality — bit-identical folds

    # pair scorer vs expression cosine on a sample of pairs
    a = emb.select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("av")
    ).withColumn("an", norm("transform(av, x -> CAST(x AS DOUBLE))"))
    b = emb.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("bv")
    ).withColumn("bn", norm("transform(bv, x -> CAST(x AS DOUBLE))"))
    pairs = a.join(b, F.col("a_id") + 1 == F.col("b_id"))
    score = _pair_cosine_kernel()
    both = pairs.select(
        "a_id",
        score("av", "bv", "an", "bn").alias("k"),
        (dot("av", "bv") / (F.col("an") * F.col("bn"))).alias("e"),
    ).collect()
    assert len(both) > 50
    for r in both:
        assert r.k == r.e, (r.a_id, r.k, r.e)  # exact, not approx


class TestQuantizeEmbeddings:
    def test_codes_bounded_and_reconstruction_close(self, spark):
        import numpy as np

        from yandex_tracker_exporter_spark.operators.similarity import (
            quantize_embeddings,
        )
        from yandex_tracker_exporter_spark.sources.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        out = quantize_embeddings(emb).collect()
        raw = {r.vec_id: r.embedding for r in emb.collect()}
        assert len(out) == len(raw)
        for r in out:
            q = np.array(r.qvec)
            assert q.min() >= -127 and q.max() <= 127
            v = np.array(raw[r.vec_id], dtype=np.float64)
            if r.scale > 0:
                # dequantized error bounded by half a quantization step
                err = np.abs(q / r.scale - v).max()
                assert err <= 0.5 / r.scale + 1e-12

    def test_zero_vector_gets_zero_codes(self, spark):
        from yandex_tracker_exporter_spark.operators.similarity import (
            quantize_embeddings,
        )

        df = spark.createDataFrame(
            [(1, [0.0, 0.0, 0.0]), (2, [0.5, -1.0, 0.25])],
            "vec_id long, embedding array<float>",
        )
        got = {r.vec_id: r for r in quantize_embeddings(df).collect()}
        assert got[1].scale == 0.0 and got[1].qvec == [0, 0, 0]
        assert got[2].qvec[1] == -127  # max-magnitude dim saturates
