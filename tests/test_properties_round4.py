"""Property-based tests (hypothesis) for the round-4 operator families:
CDC chunking, mixture apportionment, Pareto frontier, and the Morton
key. Each property batches ALL generated examples into ONE Spark job
(createDataFrame once, collect once) so the JVM round-trip count stays
constant regardless of example count."""

import random

import pytest
from hypothesis import given, settings, strategies as st

P31 = 2**31 - 1


def _poly(s: str) -> int:
    h = 0
    for c in s:
        h = (h * 131 + ord(c)) % P31
    return h


# --- CDC chunking: pure-Python replica for the property check --------


def _cdc_ref(text: str, window: int = 8, mod: int = 64):
    n = len(text)
    cuts = []
    if n >= window:
        for i in range(n - window + 1):
            h = 0
            for c in text[i : i + window]:
                h = (h * 131 + ord(c)) % P31
            if h % mod == 0:
                cuts.append(i + window)
    ends = sorted(set(cuts) | {n})
    out, prev = [], 0
    for idx, e in enumerate(ends, 1):
        out.append((idx, prev + 1, e - prev, _poly(text[prev:e])))
        prev = e
    return out


@pytest.fixture(scope="module")
def cdc_batch(spark):
    """One Spark pass over a corpus of hypothesis-worthy strings."""
    rng = random.Random(99)
    texts = [""]
    alphabet = "abcdefgh "
    for n in [1, 7, 8, 9, 63, 64, 200]:
        texts.append("".join(rng.choice(alphabet) for _ in range(n)))
    texts.append("a" * 100)          # periodic
    texts.append(("xy" * 60) + "z")  # period-2
    from yandex_tracker_exporter_spark.operators.dedup import cdc_chunks

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    rows = cdc_chunks(df).collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start"], r["chunk_len"], r["chunk_hash"])
        )
    return texts, {k: sorted(v) for k, v in got.items()}


def test_cdc_chunks_equal_reference_on_edge_corpus(cdc_batch):
    texts, got = cdc_batch
    for i, t in enumerate(texts):
        assert got[i] == _cdc_ref(t), (i, t[:30])


def test_cdc_chunks_always_partition(cdc_batch):
    texts, got = cdc_batch
    for i, t in enumerate(texts):
        chunks = got[i]
        assert chunks[0][1] == 1
        pos = 0
        for _, start, length, _h in chunks:
            assert start == pos + 1 and length >= 0
            pos += length
        assert pos == len(t)


# --- mixture apportionment: Σ alloc == budget for ANY weights --------


@given(
    st.lists(st.integers(min_value=1, max_value=50), min_size=2, max_size=8),
    st.integers(min_value=1, max_value=10**6),
)
@settings(max_examples=25, deadline=None)
def test_apportionment_always_sums_to_budget(weights, budget):
    """Pure-Python replica of the largest-remainder rule (the Spark
    implementation is pinned to this by test_stream_analytics; here
    hypothesis hammers the RULE itself for conservation + bounds)."""
    total = sum(weights)
    quotas = [budget * w // total for w in weights]
    rems = [budget * w % total for w in weights]
    leftover = budget - sum(quotas)
    order = sorted(range(len(weights)), key=lambda i: (-rems[i], i))
    alloc = list(quotas)
    for i in order[:leftover]:
        alloc[i] += 1
    assert sum(alloc) == budget
    for w, a in zip(weights, alloc):
        assert abs(a - budget * w / total) < 1  # within one seat


# --- Morton key: interleave is a bijection on the masked domain -----


@given(
    st.integers(min_value=0, max_value=2**16 - 1),
    st.integers(min_value=0, max_value=2**16 - 1),
)
@settings(max_examples=50, deadline=None)
def test_zorder_key_bijective(x, y):
    def interleave(a, b):
        k = 0
        for j in range(16):
            k += ((a >> j) & 1) << (2 * j)
            k += ((b >> j) & 1) << (2 * j + 1)
        return k

    k = interleave(x, y)
    # invert
    xi = sum(((k >> (2 * j)) & 1) << j for j in range(16))
    yi = sum(((k >> (2 * j + 1)) & 1) << j for j in range(16))
    assert (xi, yi) == (x, y)
    assert 0 <= k < 2**32


def test_zorder_spark_matches_python(spark):
    """The Spark expression equals the reference interleave on a
    deterministic sample batched through one job."""
    from yandex_tracker_exporter_spark.operators.partitioning import zorder_key

    rng = random.Random(5)
    pts = [(rng.randrange(2**16), rng.randrange(2**16)) for _ in range(200)]
    df = spark.createDataFrame(pts, ["x", "y"])
    rows = df.select("x", "y", zorder_key("x", "y").alias("k")).collect()

    def interleave(a, b):
        k = 0
        for j in range(16):
            k += ((a >> j) & 1) << (2 * j)
            k += ((b >> j) & 1) << (2 * j + 1)
        return k

    for r in rows:
        assert r["k"] == interleave(r["x"], r["y"])
