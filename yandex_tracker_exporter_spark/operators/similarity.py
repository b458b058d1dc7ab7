"""Similarity search over embedding columns (``array<float>``).

Beyond-reference operator set for the 100 TB training-data pipeline:

- ``cosine_topk``     — brute-force exact top-k: broadcast the (small)
                        query set against the corpus, rank per query.
                        The corpus side streams — no shuffle of the
                        corpus, one narrow broadcast join + window.
- ``lsh_bucket_topk`` — scale path: random-hyperplane (sign) LSH buckets
                        computed from a *deterministic* pseudo-random
                        plane family, so results are reproducible (and
                        oracle-checkable). Candidates only within the
                        query's bucket → sublinear candidate volume at
                        the cost of recall.
- ``cosine_neardup_pairs`` — embedding near-duplicate pairs (cos ≥
                        threshold), bucketed by LSH key to avoid the
                        cross join.

All dot products are built-in ``zip_with``/``aggregate`` expressions —
JVM-side, no Python. (At real 100 TB scale the corpus side would also be
pre-bucketed at rest so the bucket join prunes file groups.)
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.functions.text import _qident

#: Deterministic pseudo-random hyperplane component for (plane j, dim d):
#: Knuth-multiplicative scramble of the index, mapped to [-0.5, 0.5).
def _plane_component(j: int, d: int) -> float:
    """Component d of deterministic hyperplane j, uniform in [-0.5, 0.5).

    md5 of "plane:j:d" — full avalanche, so the planes of a band are
    statistically independent. The previous linear-congruential family
    ((j*4099 + d*8191 + 1)*K mod 2^31) had lattice correlations ACROSS
    d for fixed j, which correlated the 12 planes of a band: measured on
    the sf0.1 corpus (+ planted copies), band buckets concentrated into
    ~1,000 of 4,096 keys and candidate pairs ran 226k where independent
    planes give 36k at the SAME planted recall (1.0) — a 6x candidate
    overhead purely from generator quality. Values are computed once in
    Python and embedded as double literals in BOTH engines (repr
    round-trips exactly), so the family change stays bit-consistent
    everywhere including the DuckDB oracles."""
    import hashlib

    h = int.from_bytes(
        hashlib.md5(f"plane:{j}:{d}".encode()).digest()[:8], "big"
    )
    return h / 2.0**64 - 0.5


def _dot_sql(a: str, b: str) -> str:
    """SQL text of :func:`dot` over two column/SQL snippets: widen-to-
    double products, 0.0D init, left-fold sum."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _norm_sql(a: str) -> str:
    """SQL text of :func:`norm` (see :func:`_dot_sql`)."""
    return (
        f"sqrt(aggregate(transform({a}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x))"
    )


def dot(a: str, b: str) -> Column:
    """Dot product of two float-array SQL snippets (column names or
    expressions), built-in expressions only.

    Elements are widened to double BEFORE multiplying so the reduction
    is a pure double left-fold — deterministic and reproducible by any
    engine that folds in the same order (float32 intermediate products
    would diverge from the DuckDB oracle).

    Built as ONE SQL string parsed JVM-side in a single py4j call
    instead of ~30 Column-op round trips (r12 optimization: plan
    construction was ~60 s of the 151-query suite, mostly py4j socket
    latency)."""
    return F.expr(_dot_sql(a, b))


def norm(a: str) -> Column:
    """Euclidean norm of a float-array SQL snippet (see :func:`dot`)."""
    return F.expr(_norm_sql(a))


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of two float-array SQL snippets.

    Crash-proof: ``try_divide`` yields NULL instead of an ANSI
    DIVIDE_BY_ZERO when either vector has zero norm — the driver runs
    bare-session ANSI, where one zero/empty vector in a corpus used to
    kill the WHOLE query, not just its row (junk-smoke finding, round
    9). Values are bit-identical to plain ``/`` whenever the divisor
    is nonzero, so oracle parity is unaffected.

    NOT ranking-safe on its own for non-finite vectors: an Inf-element
    vector gives a NaN score, which sorts ABOVE every real score under
    ``desc()`` (ADVICE r8). Callers that rank by this score must
    quarantine rows first — :func:`usable_vectors`, or the
    per-row-norm + :func:`_usable_norm` pattern every operator in this
    module uses."""
    return F.expr(
        f"try_divide({_dot_sql(a, b)}, {_norm_sql(a)} * {_norm_sql(b)})"
    )


def usable_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Quarantine filter for a vector column: keeps only rows whose
    norm is usable (non-NULL, positive, finite — see
    :func:`_usable_norm`). The one-fold-per-ROW guard brute-force
    scorers need before a broadcast-cross: applied once per row, junk
    can neither raise in the per-pair division nor outrank real
    neighbors with a NaN score."""
    return df.where(_usable_norm(norm(_qident(vec_col))))


def finite_vector(vec: Column) -> Column:
    """Row-level quarantine for the QUANTIZATION/code paths: the vector
    exists and every element is a finite number (zero vectors and
    ragged widths are fine here — the scale-0 convention handles them;
    width rules belong to the fixed-dim consumers like kmeans).

    Why it must exist (junk_check, round 10): Spark's ``floor()`` on a
    double returns LONG with SILENT saturation — ``floor(NaN) = 0``,
    ``floor(Infinity) = Long.MAX`` — even under ANSI (only an explicit
    CAST raises). So an unguarded non-finite element does not crash a
    quantizer, it FABRICATES codes: a junk NaN vector quantizes to a
    legitimate-looking all-zero code row and silently joins every
    downstream centroid/assignment. ``F.forall`` is true on the empty
    array, so ``[]`` passes (by design)."""
    x = lambda e: e.cast("double")  # noqa: E731 — local shorthand
    return vec.isNotNull() & F.forall(
        vec,
        lambda e: e.isNotNull()
        & ~F.isnan(x(e))
        & (F.abs(x(e)) < F.lit(float("inf"))),
    )


def _usable_norm(n: Column) -> Column:
    """Quarantine predicate for a precomputed vector norm: cosine is
    undefined for zero vectors (ANSI sessions RAISE on the 0/0 —
    the driver runs bare-session ANSI, so an unguarded zero vector
    kills the whole query, not just its row), a NULL norm marks a
    NULL vector or a NULL element (the ``aggregate`` fold propagates
    element nulls into the sum), a NaN norm marks a mixed-sign
    non-finite element — which Spark's ordering treats as LARGER than
    every real number, so an unfiltered NaN would both survive ``> 0``
    and outrank every true neighbor — and an INFINITE norm marks a
    ±Inf element (or overflow): its cosine is inf/inf = NaN, which
    passes an isNotNull post-filter and ALSO sorts above every real
    score, so the bad row would become the top neighbor of every
    query (ADVICE r8). Requiring ``n < inf`` makes the expression
    branch match the Arrow prep kernel, which drops non-finite
    elements via ``np.isfinite``. Rows failing this are excluded from
    similarity operators the same way kmeans quarantines bad codes."""
    return n.isNotNull() & ~F.isnan(n) & (n > 0) & (n < F.lit(float("inf")))


def _finite_score(c: Column) -> Column:
    """Post-score guard: keep only real-valued cosines. After the
    ``_usable_norm`` row quarantine the only non-real score is a NULL
    from a ragged PAIR (zip_with null-pads the shorter vector, the
    fold propagates the null) — Cauchy-Schwarz bounds ``|dot| <=
    norm(a)*norm(b)``, and a vector whose sum of squares overflows has
    an infinite norm and was already quarantined, so Inf/NaN scores
    cannot occur. Keep the NaN/Inf terms anyway (they are scalar-cheap
    and guard callers who skip the quarantine; NaN sorts LARGEST under
    ``desc()``). PLACEMENT matters: applied below the rank window this
    filter is pushed into the JOIN CONDITION and re-evaluates the dot
    fold per pair — apply it ABOVE the window (NULL sorts last, so
    ranks are unchanged) at k rows per query."""
    return (
        c.isNotNull()
        & ~F.isnan(c)
        & (c > F.lit(float("-inf")))
        & (c < F.lit(float("inf")))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    ``queries`` is expected small (it is broadcast); output:
    (query_id, neighbor_id, cosine_sim) with deterministic tie-break
    (sim desc, neighbor id asc). Self-matches are excluded. Norms are
    computed ONCE per row on each side (not once per pair) and rows
    with an unusable norm (NULL / zero / non-finite vector — see
    :func:`_usable_norm`) are quarantined; a dimension mismatch
    between a query and a corpus vector yields a NULL cosine, which
    is dropped rather than ranked. dot/(qn*cn) with precomputed norms
    is the IEEE-identical expression to dot/(norm(a)*norm(b))."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        norm(_qident(vec_col)).alias("_qn"),
    ).where(_usable_norm(F.col("_qn")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        norm(_qident(vec_col)).alias("_cn"),
    ).where(_usable_norm(F.col("_cn")))
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        (dot("_qvec", "_cvec") / (F.col("_qn") * F.col("_cn"))).alias(
            "cosine_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    # _finite_score ABOVE the window, not below (junk-smoke, round 9):
    # a pre-rank filter on the projected score is pushed into the JOIN
    # CONDITION by Catalyst, re-evaluating the whole dot fold per pair
    # (2x the scorer, seen in the executed plan). Post-quarantine the
    # only non-real score is a NULL from a ragged pair (Cauchy-Schwarz:
    # finite norms bound |dot| <= qn*cn, so overflow to Inf/NaN is
    # impossible), and NULL sorts LAST under desc() — real rows' row
    # numbers are identical, so filtering the <= k survivors is
    # result-equal and costs k rows per query instead of a fold per
    # pair.
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .where(_finite_score(F.col("cosine_sim")))
        .drop("_rn")
    )


def lsh_bucket_key(
    vec: str, num_planes: int = 8, dim: int = 64, offset: int = 0
) -> Column:
    """Sign-LSH bucket id: bit j = 1 iff <vec, plane_{offset+j}> >= 0.

    ``offset`` selects an independent plane family — band ``b`` of a
    multi-band scheme passes ``offset=b*num_planes`` so every band hashes
    with its own planes.

    ``vec`` is a SQL snippet: the whole key — plane literals,
    projections, sign bits, sum — is built as ONE SQL string and parsed
    JVM-side in a single py4j call (r12: a Column build cost ~35 round
    trips per plane; this query family builds up to 32 planes). The
    double literals are repr()-rendered, which round-trips exactly."""
    bits = []
    for j in range(num_planes):
        planes = (
            "array("
            + ",".join(
                repr(_plane_component(offset + j, d)) + "D" for d in range(dim)
            )
            + ")"
        )
        bits.append(
            f"CASE WHEN {_dot_sql(vec, planes)} >= 0 THEN {1 << j} ELSE 0 END"
        )
    return F.expr(f"CAST({' + '.join(bits)} AS INT)")


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
    num_bands: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket.

    Equi-join on the bucket key replaces the broadcast-cross of
    ``cosine_topk`` — the scale path when queries are many.

    **Regime note (measured, see tests/test_ann_recall.py):** sign-LSH
    retrieves *high-similarity* neighbors. A ``cos θ`` pair shares one
    ``p``-plane bucket with probability ``(1 - θ/π)^p`` — ≈59% at
    cosine 0.98 but ≈3% at cosine 0.45, so on a corpus whose true
    top-k neighbors sit at mid cosine (e.g. random embeddings), bucket
    recall is inherently low regardless of tuning; use :func:`ivf_topk`
    or :func:`cosine_topk` there. ``num_bands > 1`` ORs independent
    plane families (band ``b`` hashes with planes ``offset=b*p``): a
    pair is a candidate if ANY band matches, lifting recall to
    ``1-(1-(1-θ/π)^p)^B`` — ≥97% at cosine 0.98 with 8 planes × 4
    bands — while random pairs stay pruned (``1-(1-2^-p)^B`` ≈ 1.6%).
    Multi-band keeps the corpus shuffle-free: band keys join against
    the broadcast query bands, and candidate ids broadcast back onto
    the corpus scan for scoring.
    """
    if num_bands == 1:
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cvec"),
            norm(_qident(vec_col)).alias("_cn"),
            lsh_bucket_key(_qident(vec_col), num_planes, dim).alias("bucket"),
        ).where(_usable_norm(F.col("_cn")))
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qvec"),
            norm(_qident(vec_col)).alias("_qn"),
            lsh_bucket_key(_qident(vec_col), num_planes, dim).alias("bucket"),
        ).where(_usable_norm(F.col("_qn")))
        scored = (
            c.join(q, "bucket")
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                (
                    dot("_qvec", "_cvec")
                    / (F.col("_qn") * F.col("_cn"))
                ).alias("cosine_sim"),
            )
            # no pre-rank _finite_score: it pushes into the join
            # condition and doubles the scorer (see cosine_topk) —
            # the shared post-rank filter below covers this branch
        )
    else:
        # Band keys come from the Arrow prep kernel (bit-identical to
        # multiband_projections + band_key_from_projections — see the
        # kernel's exactness argument). The expression fold is correct
        # but interpreted, and in a many-query session the expression
        # interpreter's call sites go megamorphic: measured 2.4 s solo
        # → 4.8 s inside the 81-query bench for the 8×4 family, vs a
        # stable ~1 s with the kernel. This is the PRE-JOIN map stage
        # (corpus → buckets → equi-join) — unlike the scorer-in-join
        # experiment NOTES records as a regression, nothing here forces
        # joined rows through Python.
        prep = _neardup_prep_kernel(num_planes, num_bands, dim)

        def banded(df: DataFrame, out_id: str) -> DataFrame:
            # the kernel nulls out unusable vectors (NULL / ragged /
            # non-finite); zero vectors carry nrm 0 — both quarantine
            # here, so invalid ids never reach the candidate join
            return (
                df.select(
                    F.col(id_col).alias(out_id), prep(F.col(vec_col)).alias("_p")
                )
                .where(F.col("_p.nrm").isNotNull() & (F.col("_p.nrm") > 0))
                .select(out_id, F.posexplode("_p.buckets").alias("band", "bucket"))
            )

        cand = (
            banded(corpus, "neighbor_id")
            .join(F.broadcast(banded(queries, "query_id")), ["band", "bucket"])
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .distinct()
        )
        cv = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
        )
        qv = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
        )
        scored = (
            cv.join(F.broadcast(cand), "neighbor_id")
            .join(F.broadcast(qv), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                cosine("_qvec", "_cvec").alias("cosine_sim"),
            )
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    # post-rank _finite_score (see cosine_topk for the placement
    # argument): drops ragged-pair NULL scores from the single-band
    # branch at k rows per query; a no-op for the multiband branch,
    # whose candidate ids are kernel-quarantined
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .where(_finite_score(F.col("cosine_sim")))
        .drop("_rn")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the second scale path next
    to sign-LSH.

    Training-free deterministic coarse quantizer: the ``num_centroids``
    lowest-id corpus vectors act as centroids (reproducible — a k-means
    fit would make results depend on iteration order). Cluster
    assignment is **map-only**: the centroid set is collected into a
    single-row broadcast array, and each row ranks it with a per-row
    ``array_sort`` (cosine desc, centroid id asc) — no corpus expansion,
    no shuffle, no window. (The previous crossJoin(centroids) +
    row_number-by-vec_id formulation shuffled a 16×-expanded copy of
    the whole corpus just to take this argmax.) Each query probes its
    ``nprobe`` best centroids via a sorted-slice of the same array —
    candidate volume drops by ~``num_centroids/nprobe``× versus brute
    force.
    """
    # quarantine BEFORE centroid selection: a NULL/zero/non-finite
    # vector among the lowest-id rows would otherwise become a
    # centroid whose cn=0 raises DIVIDE_BY_ZERO in every row's ANSI
    # assignment (the driver runs bare-session ANSI)
    corpus = corpus.where(_usable_norm(norm(_qident(vec_col))))
    queries = queries.where(_usable_norm(norm(_qident(vec_col))))
    centroids = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(num_centroids)
        .select(
            F.struct(
                F.col(id_col).alias("cid"),
                F.col(vec_col).alias("cv"),
                norm(_qident(vec_col)).alias("cn"),
            ).alias("_c")
        )
        # single row holding all centroids, sorted by id (collect_list
        # order is not deterministic; array_sort on the struct is)
        .agg(F.array_sort(F.collect_list("_c")).alias("_cents"))
    )
    # per-centroid cosine of the row vector `_v` (norm `_vn`). Norms
    # arrive precomputed — the row norm once per row (not once per
    # centroid) and the centroid norms baked into the broadcast.
    cent_cd = f"{_dot_sql('_v', 'c.cv')} / (_vn * c.cn)"

    corpus_v = corpus.select(
        F.col(id_col), F.col(vec_col).alias("_v"), norm(_qident(vec_col)).alias("_vn")
    )
    # corpus-side argmax via builtin array_max on (cd, -cid) structs:
    # lexicographic struct max = highest cosine, ties to the LOWEST
    # centroid id — identical to the (cd desc, cid asc) window order,
    # with no per-element comparator lambda on the big side
    best = F.expr(
        f"array_max(transform(_cents, "
        f"c -> named_struct('cd', {cent_cd}, 'negcid', -c.cid)))"
    )
    assigned = corpus_v.join(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col("_v"),
        F.col("_vn"),
        (-best["negcid"]).alias("cluster_id"),
    )

    # query side: centroid structs (cosine, cid) sorted best-first,
    # exactly the (cosine desc, centroid_id asc) order of a row_number
    # window; each query probes the first ``nprobe``
    ranked_centroids = (
        f"array_sort(transform(_cents, "
        f"c -> named_struct('cd', {cent_cd}, 'cid', c.cid)), "
        "(l, r) -> CASE WHEN l.cd > r.cd THEN -1 WHEN l.cd < r.cd THEN 1 "
        "WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1 ELSE 0 END)"
    )
    queries_v = queries.select(
        F.col(id_col), F.col(vec_col).alias("_v"), norm(_qident(vec_col)).alias("_vn")
    )
    probes = queries_v.join(F.broadcast(centroids)).select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_vn").alias("_qn"),
        F.explode(
            F.expr(f"transform(slice({ranked_centroids}, 1, {nprobe}), s -> s.cid)")
        ).alias("cluster_id"),
    )

    # probes is tiny (n_queries × nprobe) — broadcast it so the corpus
    # side is never shuffled on cluster_id
    candidates = F.broadcast(probes).join(
        assigned.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("_v").alias("_cv"),
            F.col("_vn").alias("_cn"),
            "cluster_id",
        ),
        "cluster_id",
    ).where(F.col("query_id") != F.col("neighbor_id"))
    scored = candidates.select(
        "query_id",
        "neighbor_id",
        (dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn"))).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    # post-rank _finite_score — see cosine_topk for the placement
    # argument (pre-rank it pushes into the join and doubles the
    # scorer; NULL sorts last so ranks are unchanged)
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .where(_finite_score(F.col("cosine_sim")))
        .drop("_rn")
    )


def multiband_projections(
    vec: Column, num_planes: int, num_bands: int, dim: int = 64
) -> Column:
    """All ``num_planes*num_bands`` plane projections in ONE pass.

    Equivalent to ``num_bands`` independent :func:`lsh_bucket_key` calls
    with ``offset=b*num_planes`` (bit-identical — the per-plane addition
    order is the same left fold over dimensions), but folds the vector
    once with a wide accumulator instead of one 64-element fold per
    plane: the interpreted higher-order-function cost drops ~7×.
    """
    n_total = num_planes * num_bands
    # one F.expr instead of dim*n_total F.lit calls: building the 80×64
    # literal matrix element-wise costs seconds of py4j round-trips per
    # query CONSTRUCTION; a D-suffixed (double) literal string parses
    # JVM-side in ms and repr() round-trips every IEEE754 double exactly
    planes_by_dim = F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(repr(_plane_component(j, d)) + "D" for j in range(n_total))
            + ")"
            for d in range(dim)
        )
        + ")"
    )
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(dim)),
        F.array_repeat(F.lit(0.0).cast("double"), n_total),
        lambda acc, d: F.zip_with(
            acc,
            F.element_at(planes_by_dim, d),
            lambda a, p: a + F.element_at(vec, d) * p,
        ),
    )


def band_key_from_projections(
    proj: Column, band: int, num_planes: int
) -> Column:
    """Band ``band``'s bucket id from the wide projection array."""
    key = None
    for j in range(num_planes):
        bit = F.when(
            F.element_at(proj, band * num_planes + j + 1) >= 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
        key = bit if key is None else key + bit
    return key.cast("int")


def auto_num_planes(
    n_vectors: int, min_planes: int = 10, max_planes: int = 28
) -> int:
    """The sign-LSH operating point for a corpus of ``n_vectors``:
    ``planes ≈ log2(n) − 3``, clamped to ``[min_planes, max_planes]``.

    The bucket space per band is FIXED at ``2^planes``, so random-pair
    candidate volume is ``≈ n²·bands/2^planes`` — quadratic in ``n``
    once buckets saturate. Holding ``n/2^planes`` (per-bucket occupancy)
    at ~8 keeps cost per vector constant as the corpus grows: this is
    the remedy the round-9 factor-100 harness measured (10 planes:
    287 s / all 1024 buckets saturated at 400k vectors; 16 planes:
    18.5 s, 99.999% identical pairs at the same planted recall).
    The clamp floor keeps small corpora on the contract-parity default;
    the ceiling keeps the int32 bucket key exact (2^28 « 2^31) —
    beyond ~2^31 vectors, shard the corpus before LSH.
    """
    if n_vectors <= 0:
        return min_planes
    # bit_length-1 IS int(log2(n)) for every positive int, computed
    # exactly — float log2 can misround at astronomic n, and the Spark
    # expression twin in dedup_skew_report (length(conv(n, 10, 2)) - 1)
    # must agree bit-for-bit with this function at ANY n
    return max(min_planes, min(max_planes, (n_vectors.bit_length() - 1) - 3))


def _neardup_prep_kernel(num_planes: int, num_bands: int, dim: int):
    """Arrow-vectorized per-vector prep for :func:`cosine_neardup_pairs`:
    norm + one bucket id per band, bit-identical to the expression path
    (``norm`` / ``multiband_projections`` / ``band_key_from_projections``)
    and therefore to the DuckDB oracle.

    Exactness argument: float32→float64 casts are exact; per-element
    products are IEEE-identical regardless of vectorization; and
    ``np.add.accumulate`` is a strict sequential left fold, the same
    reduction order as ``F.aggregate`` / DuckDB ``list_reduce`` (a plain
    ``np.sum`` would pairwise-sum and diverge in the last ulp). Measured:
    the 80-projection interpreted HOF fold costs ~2 s per pass at sf0.1
    and the pair plan needs it on several branches; the kernel does the
    same math in <0.1 s."""
    n_total = num_planes * num_bands
    planes = np.array(
        [[_plane_component(j, d) for d in range(dim)] for j in range(n_total)],
        dtype=np.float64,
    )

    @F.pandas_udf("struct<nrm: double, buckets: array<int>>")
    def prep(vecs: pd.Series) -> pd.DataFrame:
        # Batch the whole Arrow chunk through ONE accumulate call per
        # sub-batch instead of a per-vector Python loop (measured ~3x on
        # the prep stage). Bit-exactness is preserved: accumulate along
        # the last axis performs the identical sequential left fold per
        # (vector, plane) row as the per-vector form. Sub-batches of 128
        # bound the (B, n_total, dim) float64 temporary to ~6 MB.
        nrms = np.full(len(vecs), np.nan)
        buckets: list = [None] * len(vecs)
        bits = 1 << np.arange(num_planes, dtype=np.int64)
        # latent-input quarantine (round-8 hardening): a NULL vector,
        # a wrong-width vector (np.stack would raise on the ragged
        # batch and kill the TASK, failing the whole query for one bad
        # row), or a non-finite element (NULL float elements arrive as
        # NaN through Arrow; NaN survives `> 0` under Spark ordering)
        # all yield a NULL struct — the expression twin's norm is NULL
        # or NaN for the same rows, so both paths drop them.
        idx = []
        for i, v in enumerate(vecs):
            if v is None:
                continue
            try:
                arr = np.asarray(v, dtype=np.float64)
            except (TypeError, ValueError):
                continue
            if arr.ndim != 1 or arr.shape[0] != dim or not np.isfinite(arr).all():
                continue
            idx.append(i)
        for lo in range(0, len(idx), 128):
            rows = idx[lo:lo + 128]
            x = np.stack(
                [np.asarray(vecs.iloc[i], dtype=np.float64) for i in rows]
            )
            nrm = np.sqrt(np.add.accumulate(x * x, axis=1)[:, -1])
            proj = np.add.accumulate(
                planes[None, :, :] * x[:, None, :], axis=2
            )[:, :, -1]
            signs = (proj >= 0).reshape(len(rows), num_bands, num_planes)
            keys = (signs * bits[None, None, :]).sum(axis=2).astype(np.int32)
            for j, i in enumerate(rows):
                nrms[i] = nrm[j]
                buckets[i] = keys[j]
        return pd.DataFrame(
            {
                "nrm": [None if b is None else n for n, b in zip(nrms, buckets)],
                "buckets": buckets,
            }
        )

    # the kernel IS pure, but posexplode makes Catalyst infer
    # size(buckets)>0 / isnotnull constraints and push them below the
    # union as EXTRA ArrowEvalPython evaluations (measured: the kernel
    # ran 3× per join side). asNondeterministic() forbids duplicating
    # the call, keeping exactly one evaluation per branch.
    return prep.asNondeterministic()


def _pair_cosine_kernel():
    """Arrow-vectorized pair scorer: cosine over two fixed-dim float
    arrays + precomputed norms. Bit-identical to
    ``dot(a, b) / (anrm * bnrm)`` — float32→float64 casts and products
    are exact, and the fold over dimensions is ``np.add.accumulate``
    (strict sequential left fold, same order as ``F.aggregate`` and the
    DuckDB oracle's ``list_reduce``)."""

    @F.pandas_udf("double")
    def score(
        a: pd.Series, b: pd.Series, anrm: pd.Series, bnrm: pd.Series
    ) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        av = np.stack([np.asarray(v, dtype=np.float64) for v in a])
        bv = np.stack([np.asarray(v, dtype=np.float64) for v in b])
        # errstate: a quarantine-escaped non-finite pair (or a zero
        # norm) yields NaN here BY DESIGN — downstream _finite_score
        # drops it. Without the suppress, every such Arrow batch logs a
        # numpy RuntimeWarning per executor: pure log spam at scale.
        with np.errstate(invalid="ignore", divide="ignore"):
            dots = np.add.accumulate(av * bv, axis=1)[:, -1]
            return pd.Series(dots / (anrm.to_numpy() * bnrm.to_numpy()))

    # asNondeterministic (the `prep` precedent, guide §4.4): Catalyst
    # pushed the `>= threshold` filter below the projection by RE-RUNNING
    # the scorer — measured r12 (embedding_neardup plan): score() as two
    # back-to-back ArrowEvalPython nodes, every candidate pair scored
    # twice. Pure kernel; forbidding duplication changes no result.
    return score.asNondeterministic()


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | str = 10,
    num_bands: int = 8,
    dim: int = 64,
    max_bucket: int | None = 10_000,
    cap_strategy: str = "window",
    n_vectors: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs via **multi-band** sign-LSH.

    OR-construction banding: ``num_bands`` independent plane families
    (band ``b`` hashes with planes ``b*num_planes .. (b+1)*num_planes-1``);
    a pair becomes a candidate when ANY band puts both vectors in the
    same bucket, and every candidate is verified with the exact cosine —
    precision is exact, only recall is probabilistic. For per-plane
    collision probability ``p = 1 - θ/π`` the pair survives with
    ``1 - (1 - p^num_planes)^num_bands``: at cosine ≥ 0.95 the default
    10×8 family recalls ≳ 99%; sub-0.7-cosine pairs almost never
    collide, which is what keeps candidate volume linear-ish.

    **Operating point — scale num_planes with the corpus.** The bucket
    space is FIXED at ``2^num_planes`` per band, so random-pair
    candidate volume is ``≈ n²·num_bands/2^num_planes``: quadratic in
    ``n`` once buckets saturate (``n ≫ 2^num_planes``). The defaults
    are sized for ~10⁴ vectors (n/2^p ≈ 10); at 10⁸ vectors pass
    ``num_planes ≈ log2(n) - 3`` (e.g. 24) to hold per-bucket occupancy
    — and with it cost per vector — constant. Measured: a factor-100
    corpus (200k vectors) at the 10-plane default saturates all 1024
    buckets/band (~195 occupancy → ~156M scored pairs), while 16 planes
    restores the sparse regime at identical planted recall (see
    NOTES.md round 9). **Pass ``num_planes="auto"`` to apply that
    remedy at plan-build time**: the plane count becomes
    :func:`auto_num_planes` of the corpus size — ``n_vectors`` when the
    caller already knows it, else one column-pruned ``count()`` of the
    id column. That count is metadata-cheap ONLY for a direct parquet
    scan (row-group counts, no vector bytes); if ``embeddings`` is a
    derived/expensive pipeline, the count EXECUTES it once more at
    plan-build time — pass ``n_vectors`` or cache/checkpoint the input
    first (ADVICE r10). The static default stays 10 for contract
    parity; ``auto`` at harness scale (≤ ~2¹³ vectors) resolves to the
    same 10, so the twin is byte-equal there by construction.
    Raising planes lowers per-band collision probability for NEAR
    pairs too (recall = 1−(1−p^planes)^bands with p = 1−θ/π), so
    ``auto`` holds occupancy ~8 rather than minimizing it; the
    operating regime is NEAR-DUPLICATE detection (pair cosine ≳ 0.98,
    p ≳ 0.94), where recall at 8 bands stays ≳ 97% out to 24 planes.
    For looser thresholds at large n, raise ``num_bands`` alongside —
    band count is the recall knob, plane count the candidate-volume
    knob. ``max_bucket`` is the orthogonal HUB rail shared
    with the text-LSH family (byte-identical vectors land in one bucket
    in EVERY band): bucket groups above the cap drop before the
    self-join (``None`` disables; ``cap_strategy`` as in
    ``minhash_lsh_duplicates``). The default cap never binds at harness
    scale — saturation is fixed by planes, hubs by the cap.

    Plan shape: Arrow-kernel prep (norm + per-band buckets, bit-identical
    to the expression fold — see ``_neardup_prep_kernel``), explode to
    (band, bucket), one ``repartition`` on the band key, bucketed
    self-equi-join (NO cross join / nested-loop), score-then-distinct on
    narrow rows. At rest the corpus would be pre-bucketed on band 0 so
    the join prunes file groups.
    """
    from .partitioning import ensure_parallelism

    if num_planes == "auto":
        # plan-build-time corpus count. Cheap ONLY when `embeddings` is
        # a direct parquet scan (column-pruned count() answers from
        # row-group metadata, no vector bytes); a derived/expensive
        # upstream pipeline gets fully EXECUTED an extra time here just
        # to pick the plane count (ADVICE r10) — such callers should
        # pass n_vectors, or cache()/localCheckpoint() the input first
        n = n_vectors if n_vectors is not None else (
            embeddings.select(id_col).count()
        )
        num_planes = auto_num_planes(n)
    elif not isinstance(num_planes, int) or isinstance(num_planes, bool):
        raise TypeError(
            f'num_planes must be an int or "auto"; got {num_planes!r}'
        )

    prep = _neardup_prep_kernel(num_planes, num_bands, dim)
    e = (
        ensure_parallelism(embeddings)
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_vec"),
            prep(F.col(vec_col)).alias("_p"),
        )
        .select(
            "_id",
            "_vec",
            F.col("_p.nrm").alias("_nrm"),
            F.col("_p.buckets").alias("_buckets"),
        )
        # quarantine unusable vectors: kernel nulls NULL/ragged/
        # non-finite rows; zero vectors carry nrm 0 (cosine undefined —
        # the pair scorer would 0/0 into NaN and NaN >= threshold is
        # TRUE under Spark ordering, emitting bogus pairs)
        .where(F.col("_nrm").isNotNull() & (F.col("_nrm") > 0))
    )
    # Materialize the kernel prep ONCE for both self-join sides. The
    # nondeterministic kernel (see above) never canonicalizes equal, so
    # without a barrier Spark plans two full scan+kernel subtrees
    # (measured: kernel ran twice). The barrier sits BEFORE the band
    # explode on purpose: this relation is 1 row/vector (~1/8 the bytes
    # of the exploded one), so the stored blocks stay small; the cheap
    # explode replays per side. Same durability class as shuffle files.
    e = e.localCheckpoint(eager=False)
    # carry (vec, nrm) through the band exchange and score candidates
    # IMMEDIATELY: a candidates-distinct-then-vector-join-back variant
    # was MEASURED SLOWER here (4.8s vs 2.8s at sf0.1 under the isolated
    # bench protocol) — it adds two more corpus branches (kernel evals +
    # broadcasts) that cost more than the ~2× duplicate fold-scoring it
    # saves. The deterministic fold gives bit-identical cosines, so
    # distinct() on the narrow scored rows is exact, and the dedup
    # shuffle moves 24-byte rows instead of two 64-double vectors.
    banded = (
        e.select(
            "_id", "_vec", "_nrm",
            F.posexplode("_buckets").alias("band_idx", "bucket"),
        )
        .repartition("band_idx", "bucket")
    )
    if max_bucket is not None:
        # hub rail (shared with the text-LSH family): identical vectors
        # collide in EVERY band, so a dup hub enters the quadratic
        # self-join on all of them; the cap rides the repartition above
        from yandex_tracker_exporter_spark.operators.dedup import (
            _cap_hub_buckets,
        )

        banded = _cap_hub_buckets(
            banded, ("band_idx", "bucket"), max_bucket, cap_strategy
        )
    a = banded.select(
        F.col("_id").alias("a_id"),
        F.col("_vec").alias("_avec"),
        F.col("_nrm").alias("_anrm"),
        "band_idx",
        "bucket",
    )
    b = banded.select(
        F.col("_id").alias("b_id"),
        F.col("_vec").alias("_bvec"),
        F.col("_nrm").alias("_bnrm"),
        "band_idx",
        "bucket",
    )
    score = _pair_cosine_kernel()
    return (
        a.join(b, ["band_idx", "bucket"])
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            score(
                F.col("_avec"), F.col("_bvec"), F.col("_anrm"), F.col("_bnrm")
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
        .distinct()
    )


def _quantize_kernel():
    """Arrow-vectorized int8 quantizer: one numpy pass per batch doing
    EXACTLY the expression path's math — ``scale = 127.0 / max(|v|)``
    (double division), ``q_i = floor(v_i·scale + 0.5)`` (float32→float64
    cast is exact; multiply/add/floor are single IEEE-754 double ops in
    both engines) — so codes are bit-identical to the HOF fold and the
    DuckDB oracle (pinned: tests/test_differential_reference3.py).

    Why it exists (r12 optimization, guide §4.2): the expression path is
    ~5 interpreted higher-order-function passes per row (finite_vector's
    forall + abs/max/floor transforms never enter codegen), measured
    ~1.0 s of the 1.45 s query at sf0.1 — with the quarantine filter
    pushed onto the SINGLE-partition scan. The kernel replaces them with
    vectorized numpy and carries the quarantine INSIDE (NULL struct →
    dropped by the caller), so nothing pushes below the exchange.

    Quarantine parity with :func:`finite_vector`: NULL vector → NULL
    struct; NULL element (NaN through Arrow) / NaN / ±Inf element →
    NULL struct; empty and ragged vectors keep the scale-0 convention.
    """

    @F.pandas_udf("struct<scale: double, qvec: array<int>>")
    def qz(vecs: pd.Series) -> pd.DataFrame:
        scales: list = [None] * len(vecs)
        codes: list = [None] * len(vecs)
        for i, v in enumerate(vecs):
            if v is None:
                continue
            arr = np.asarray(v, dtype=np.float64)
            if arr.ndim != 1 or not np.isfinite(arr).all():
                continue
            m = np.abs(arr).max() if arr.shape[0] else 0.0
            scale = 127.0 / m if m > 0.0 else 0.0
            scales[i] = scale
            codes[i] = np.floor(arr * scale + 0.5).astype(np.int32)
        return pd.DataFrame({"scale": scales, "qvec": codes})

    # asNondeterministic (guide §4.4): forbid Catalyst duplicating the
    # call into pushed-down isnotnull filters — pure kernel, no result
    # change (the prep/score precedent).
    return qz.asNondeterministic()


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    use_kernel: bool = False,
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the 4×
    storage/bandwidth compression step for a 100 TB vector corpus
    (scan-bound ANN probes read a quarter of the bytes; dot products
    run on int8 SIMD downstream).

    Per vector: ``scale = 127 / max(|v|)`` and
    ``q_i = floor(v_i * scale + 0.5)`` — floor(+0.5) instead of
    round() because engines disagree on round-half ties while floor is
    universal. All-zero vectors get scale 0 and all-zero codes.
    Map-only; deterministic double arithmetic, so any engine
    reproduces the codes bit-for-bit.

    Output: id, scale, qvec (array<int> in [-127, 127]).

    Non-finite quarantine (junk_check, round 10): NULL vectors and
    vectors with a NULL/NaN/Inf element are DROPPED — Spark's
    ``floor()`` saturates silently (``floor(NaN) = 0``), so without
    the guard a junk NaN vector quantized to a legitimate-looking
    all-zero code row (and Inf to ±Long.MAX) instead of failing or
    vanishing. Empty and ragged vectors keep the scale-0 convention.

    ``use_kernel=True`` swaps in the Arrow kernel (``_quantize_kernel``
    — r12 optimization, ~5 interpreted HOF passes replaced by one numpy
    pass, bit-identical). The kernel wins ONLY when the codes are the
    TERMINAL output (quantize-as-a-query: 0.72 s vs 2.01 s paired
    in-session at sf0.1) — as an upstream stage it inserts a JVM→Python
    boundary that breaks codegen fusion with the consumer and LOST the
    same A/B everywhere it was tried (kmeans 3.36 vs 1.39 s,
    cluster_balance 1.94 vs 1.46, knn_confusion 1.76 vs 1.36, ivf_topk
    1.62 vs 1.31), so the default stays the pure-expression twin and
    downstream operators inherit it.
    """
    if use_kernel:
        kernel = _quantize_kernel()
        out = df.select(F.col(id_col), kernel(F.col(vec_col)).alias("_q"))
        # quarantined rows come back as a struct with NULL fields (Arrow
        # structs are never themselves NULL out of a pandas UDF) — gate
        # on scale, which is non-NULL for every surviving row (0.0 for
        # the empty/zero-vector convention)
        return out.where(F.col("_q.scale").isNotNull()).select(
            F.col(id_col), F.col("_q.scale").alias("scale"),
            F.col("_q.qvec").alias("qvec"),
        )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.where(finite_vector(F.col(vec_col))).select(
        F.col(id_col), v.alias("_v")
    )
    max_abs = F.array_max(F.transform(F.col("_v"), lambda x: F.abs(x)))
    with_scale = base.select(
        F.col(id_col),
        "_v",
        F.when(max_abs > 0.0, F.lit(127.0) / max_abs)
        .otherwise(F.lit(0.0))
        .alias("scale"),
    )
    q = F.transform(
        F.col("_v"),
        lambda x: F.floor(x * F.col("scale") + F.lit(0.5)).cast("int"),
    )
    return with_scale.select(F.col(id_col), "scale", q.alias("qvec"))
