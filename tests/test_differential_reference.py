"""Differential tests: engine vs BRUTE-FORCE pure-Python references.

VERDICT r5 #2: oracle parity proves engine ≡ oracle, not engine ≡ spec —
the round-5 ADVICE bugs (funnel level gaps, CMS zero buckets, leakage
empty docs) were invisible to parity because the DuckDB oracle mirrored
the engine's shape, bug included. Every reference below is a
dict-and-loop reimplementation of the DOCSTRING contract, deliberately
NOT shaped like the engine (no windows, no joins, no folds over sorted
arrays) — a shared structural bug cannot survive in both.

Each family runs on randomized seeded small inputs PLUS the known-bug
shapes: users skipping funnel levels, keys hitting only empty CMS
buckets, empty docs in the leakage corpus, graphs needing more peel
rounds than the old fixed unroll, single-event entities in
sessionization.
"""

from __future__ import annotations

import hashlib
import math
import random
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.operators.funnel import (
    event_transitions,
    funnel_conversion,
    last_touch_attribution,
    window_funnel,
)
from yandex_tracker_exporter_spark.operators.graph import (
    PR_SCALE,
    degree_assortativity_moments,
    kcore,
    pagerank,
    triangle_count,
)
from yandex_tracker_exporter_spark.operators.sessionize import sessionize_events
from yandex_tracker_exporter_spark.operators.sketches import (
    HLL_M,
    HLL_NUMERATOR,
    HLL_RHO_MAX,
    cms_counters,
    cms_estimate,
    hll_distinct,
    kmv_bottom_k,
    kmv_intersection_estimates,
)
from yandex_tracker_exporter_spark.operators.text_analysis import (
    split_leakage_audit,
)

P31 = 2147483647


def _poly(s: str) -> int:
    """The repo's portable polynomial hash, reimplemented standalone
    (loop over ord(), not a Catalyst fold). '' hashes to 0 like the
    engine (ascii('') = 0 folded once)."""
    if not s:
        return 0
    h = 0
    for ch in s:
        h = (h * 131 + ord(ch)) % P31
    return h


def _mixed(s: str, salt: str) -> int:
    h = _poly(s + salt)
    return (h * h + h) % P31


# ---------------------------------------------------------------------------
# funnel family
# ---------------------------------------------------------------------------


def _funnel_level_ref(evts, steps, window_s):
    """Spec: max prefix of steps completed in order, each strictly later
    than the previous match, within window_s of the FIRST steps[0]
    match (no re-anchoring). Ties in ts resolve by event-type order —
    the documented deterministic tie-break."""
    lv, t0, tp = 0, 0, 0
    for t, y in sorted(evts):
        if lv == 0:
            if y == steps[0]:
                lv, t0, tp = 1, t, t
        elif lv < len(steps) and y == steps[lv] and t > tp and t <= t0 + window_s:
            lv += 1
            tp = t
    return lv


def _funnel_conversion_ref(levels, n_steps):
    """Spec: every level 1..n present; n_reached = users at level >= k;
    conversion vs the IMMEDIATE predecessor, 0 when the predecessor is
    empty; level 1 converts at 1000 by definition."""
    out = {}
    prev = None
    for k in range(1, n_steps + 1):
        n = sum(1 for lv in levels.values() if lv >= k)
        if k == 1:
            conv = 1000 if n > 0 else 0  # prev is n itself; 0/0 guards to 0
        else:
            conv = 0 if prev == 0 else (n * 1000) // prev
        out[k] = (n, conv)
        prev = n
    return out


def _mk_events(spark, rows):
    """rows: (user, type, epoch_s) → DataFrame(user_id, event_type, ts,
    event_id). event_id is the row index (a deterministic unique id)."""
    data = [(u, y, t, i) for i, (u, y, t) in enumerate(rows)]
    return spark.createDataFrame(
        data, "user_id long, event_type string, ep long, event_id long"
    ).select(
        "user_id",
        "event_type",
        F.col("ep").cast("timestamp").alias("ts"),
        "event_id",
    )


def _random_funnel_rows(seed, n_users=40, n_events=300):
    rng = random.Random(seed)
    steps = ["view", "cart", "pay", "confirm"]
    types = steps + ["noise", "other"]
    rows = []
    for _ in range(n_events):
        u = rng.randrange(n_users)
        y = rng.choice(types)
        t = rng.randrange(0, 500)  # small range → deliberate ts ties
        rows.append((u, y, t))
    # known-bug shape: users who SKIP middle levels entirely
    rows += [(1000, "view", 10), (1000, "pay", 20)]
    rows += [(1001, "view", 10), (1001, "cart", 20), (1001, "confirm", 30)]
    # a user whose whole funnel exceeds the window
    rows += [(1002, "view", 0), (1002, "cart", 400), (1002, "pay", 401)]
    # re-anchor bait: a second steps[0] must NOT reset the anchor
    rows += [(1003, "view", 0), (1003, "view", 300), (1003, "cart", 310)]
    return rows, steps


@pytest.mark.parametrize("seed", [1, 2])
def test_window_funnel_matches_bruteforce(spark, seed):
    rows, steps = _random_funnel_rows(seed)
    window_s = 120
    got = {
        r["user_id"]: r["funnel_level"]
        for r in window_funnel(_mk_events(spark, rows), steps, window_s).collect()
    }
    by_user = defaultdict(list)
    for u, y, t in rows:
        by_user[u].append((t, y))
    want = {u: _funnel_level_ref(e, steps, window_s) for u, e in by_user.items()}
    assert got == want


def test_funnel_conversion_matches_bruteforce_with_level_gaps(spark):
    """The exact round-5 ADVICE shape: a middle level no user stops at
    must still appear, and conversions divide by the true predecessor."""
    # every user reaches level 1 or 3+ — nobody stops at exactly 2
    rows = (
        [(u, "view", 0) for u in range(10)]
        + [(u, "cart", 1) for u in range(4)]
        + [(u, "pay", 2) for u in range(4)]
        + [(u, "confirm", 3) for u in range(2)]
    )
    steps = ["view", "cart", "pay", "confirm"]
    got = {
        r["level"]: (r["n_reached"], r["conv_milli"])
        for r in funnel_conversion(_mk_events(spark, rows), steps, 3600).collect()
    }
    by_user = defaultdict(list)
    for u, y, t in rows:
        by_user[u].append((t, y))
    levels = {u: _funnel_level_ref(e, steps, 3600) for u, e in by_user.items()}
    want = _funnel_conversion_ref(levels, len(steps))
    assert got == want
    assert set(got) == {1, 2, 3, 4}, "every level must be present"
    # nobody stops at exactly level 2, yet level 3 must convert vs level 2
    assert got[3][1] == (got[3][0] * 1000) // got[2][0]


def test_funnel_conversion_all_levels_empty_after_k(spark):
    """A funnel whose tail levels have ZERO users: conv_milli must be 0
    (vacuous), not a division error or a dropped row."""
    rows = [(u, "view", 0) for u in range(5)]
    steps = ["view", "cart", "pay"]
    got = {
        r["level"]: (r["n_reached"], r["conv_milli"])
        for r in funnel_conversion(_mk_events(spark, rows), steps, 60).collect()
    }
    assert got == {1: (5, 1000), 2: (0, 0), 3: (0, 0)}


def _transitions_ref(rows):
    by_user = defaultdict(list)
    for i, (u, y, t) in enumerate(rows):
        by_user[u].append((t, i, y))
    out = defaultdict(lambda: [0, 0])
    for evts in by_user.values():
        evts.sort()
        for (t1, _, y1), (t2, _, y2) in zip(evts, evts[1:]):
            cell = out[(y1, y2)]
            cell[0] += 1
            cell[1] += t2 - t1
    return {k: tuple(v) for k, v in out.items()}


@pytest.mark.parametrize("seed", [3])
def test_event_transitions_matches_bruteforce(spark, seed):
    rows, _ = _random_funnel_rows(seed)
    got = {
        (r["from_type"], r["to_type"]): (r["n_trans"], r["sum_gap_s"])
        for r in event_transitions(_mk_events(spark, rows)).collect()
    }
    assert got == _transitions_ref(rows)


def _last_touch_ref(rows, conversion_type, window_s):
    by_user = defaultdict(list)
    for i, (u, y, t) in enumerate(rows):
        by_user[u].append((t, i, y))
    out = defaultdict(lambda: [0, 0])
    for evts in by_user.values():
        evts.sort()
        for i, (t, _, y) in enumerate(evts):
            if y != conversion_type:
                continue
            touch = None
            for pt, _, py in reversed(evts[:i]):
                if py != conversion_type:
                    touch = (pt, py)
                    break
            if touch is not None and t - touch[0] <= window_s:
                cell = out[touch[1]]
                cell[0] += 1
                cell[1] += t - touch[0]
            else:
                out["unattributed"][0] += 1
    return {k: tuple(v) for k, v in out.items()}


@pytest.mark.parametrize("seed", [4])
def test_last_touch_attribution_matches_bruteforce(spark, seed):
    rng = random.Random(seed)
    rows = [
        (
            rng.randrange(25),
            rng.choice(["ad", "email", "search", "purchase"]),
            rng.randrange(0, 400),
        )
        for _ in range(250)
    ]
    # a conversion with NO prior touch at all (first event of its user)
    rows.append((900, "purchase", 5))
    # a conversion whose only touch is outside the window
    rows += [(901, "ad", 0), (901, "purchase", 200)]
    got = {
        r["attributed_type"]: (r["n_conversions"], r["sum_gap_s"])
        for r in last_touch_attribution(
            _mk_events(spark, rows), "purchase", window_seconds=100
        ).collect()
    }
    assert got == _last_touch_ref(rows, "purchase", 100)


# ---------------------------------------------------------------------------
# sketches family
# ---------------------------------------------------------------------------


def _hll_ref(values):
    from yandex_tracker_exporter_spark.operators.sketches import (
        HLL_LC_TABLE,
        HLL_LC_THRESHOLD,
    )

    regs = {}
    for v in values:
        h = _mixed(str(v), ":hll")
        reg = h % HLL_M
        w = h >> 6
        rho = HLL_RHO_MAX if w == 0 else HLL_RHO_MAX - w.bit_length()
        regs[reg] = max(regs.get(reg, 0), rho)
    s = sum(1 << (HLL_RHO_MAX - m) for m in regs.values())
    s += (HLL_M - len(regs)) * (1 << HLL_RHO_MAX)
    raw = math.floor(HLL_NUMERATOR / float(s))
    v_zero = HLL_M - len(regs)
    if raw <= HLL_LC_THRESHOLD and v_zero > 0:
        return HLL_LC_TABLE[v_zero - 1]  # table is 1-indexed by V
    return raw


@pytest.mark.parametrize("seed", [5, 6])
def test_hll_distinct_matches_bruteforce(spark, seed):
    rng = random.Random(seed)
    rows = [
        (rng.choice(["g1", "g2"]), rng.randrange(5000)) for _ in range(3000)
    ]
    rows += [("g3", 42)]  # single-value group
    df = spark.createDataFrame(rows, "grp string, v long")
    got = {
        r["grp"]: r["est_distinct"]
        for r in hll_distinct(df, "v", ["grp"]).collect()
    }
    by_grp = defaultdict(list)
    for g, v in rows:
        by_grp[g].append(v)
    want = {g: _hll_ref(vs) for g, vs in by_grp.items()}
    assert got == want


def _cms_ref(term_counts, query_keys, depth=4, width=512):
    counters = defaultdict(int)
    for term, cnt in term_counts.items():
        for d in range(depth):
            counters[(d, _mixed(term, f":cms{d}") % width)] += cnt
    return {
        k: min(
            counters.get((d, _mixed(k, f":cms{d}") % width), 0)
            for d in range(depth)
        )
        for k in query_keys
    }


@pytest.mark.parametrize("seed", [7])
def test_cms_estimate_matches_bruteforce(spark, seed):
    """Includes the round-5 ADVICE shape: query keys absent from the
    corpus whose buckets are ALL empty must estimate 0, and keys with
    some empty buckets must let the 0 win the min."""
    rng = random.Random(seed)
    term_counts = {f"term{i}": rng.randrange(1, 200) for i in range(60)}
    query_keys = [f"term{i}" for i in range(0, 20)] + [
        "ghost-key-1",
        "ghost-key-2",  # not in the corpus: min must see 0 counters
    ]
    tc = spark.createDataFrame(list(term_counts.items()), "term string, cnt long")
    keys = spark.createDataFrame([(k,) for k in query_keys], "term string")
    counters = cms_counters(tc)
    got = {
        r["term"]: r["est_cnt"]
        for r in cms_estimate(keys, counters).collect()
    }
    want = _cms_ref(term_counts, query_keys)
    assert got == want
    assert got["ghost-key-1"] == 0 or got["ghost-key-1"] >= 0  # present at all
    assert set(got) == set(query_keys), "no key may be dropped"
    # structural guarantee: est >= true for present keys
    for t, c in term_counts.items():
        if t in got:
            assert got[t] >= c


def _kmv_ref(groups, k=64):
    sketches = {
        g: sorted({_mixed(str(v), ":kmv") for v in vs})[:k]
        for g, vs in groups.items()
    }
    out = {}
    for ga in sketches:
        for gb in sketches:
            if not ga < gb:
                continue
            merged = sorted(set(sketches[ga]) | set(sketches[gb]))[:k]
            n = len(merged)
            theta = merged[-1]
            both = sum(
                1 for x in merged if x in set(sketches[ga]) and x in set(sketches[gb])
            )
            est_union = ((n - 1) * P31) // theta
            out[(ga, gb)] = (est_union, (both * est_union) // n)
    return out


@pytest.mark.parametrize("seed", [8])
def test_kmv_intersection_matches_bruteforce(spark, seed):
    rng = random.Random(seed)
    shared = [rng.randrange(10**6) for _ in range(300)]
    rows = (
        [("a", v) for v in shared[:200]]
        + [("b", v) for v in shared[100:]]
        + [("c", rng.randrange(10**6)) for _ in range(150)]
    )
    df = spark.createDataFrame(rows, "grp string, v long")
    got = {
        (r["grp_a"], r["grp_b"]): (r["est_union"], r["est_inter"])
        for r in kmv_intersection_estimates(kmv_bottom_k(df, "v", "grp")).collect()
    }
    by_grp = defaultdict(list)
    for g, v in rows:
        by_grp[g].append(v)
    assert got == _kmv_ref(by_grp)


# ---------------------------------------------------------------------------
# split-leakage family
# ---------------------------------------------------------------------------


def _leakage_ref(docs, window_tokens=16):
    per_key_split = defaultdict(int)
    for doc_id, text in docs:
        b = _mixed(str(doc_id), "split:") % 100
        split = "train" if b < 90 else ("val" if b < 95 else "test")
        if not text.strip():
            continue  # empty docs never register a leaked window
        toks = text.split()
        n_windows = (len(toks) + window_tokens - 1) // window_tokens
        for w in range(n_windows):
            chunk = " ".join(toks[w * window_tokens : (w + 1) * window_tokens])
            key = hashlib.md5(chunk.encode()).hexdigest()
            per_key_split[(key, split)] += 1
    by_key = defaultdict(dict)
    for (key, split), n in per_key_split.items():
        by_key[key][split] = n
    out = defaultdict(lambda: [0, 0])
    for splits in by_key.values():
        names = sorted(splits)
        for i, sa in enumerate(names):
            for sb in names[i + 1 :]:
                cell = out[(sa, sb)]
                cell[0] += 1
                cell[1] += splits[sa] * splits[sb]
    return {k: tuple(v) for k, v in out.items()}


def test_split_leakage_matches_bruteforce(spark):
    """Seeds the round-5 ADVICE shape: EMPTY and whitespace-only docs in
    multiple splits must not count as leaked md5('') windows; real
    cross-split copies must."""
    rng = random.Random(9)
    vocab = [f"w{i}" for i in range(50)]
    docs = []
    copied = " ".join(rng.choice(vocab) for _ in range(40))
    for i in range(120):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 60)))))
    # the same 40-token text under many ids → lands in several splits
    for i in range(200, 240):
        docs.append((i, copied))
    # empty / whitespace docs sprinkled across ids (and thus splits)
    for i in range(300, 330):
        docs.append((i, "" if i % 2 else "   "))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["split_a"], r["split_b"]): (r["n_window_keys"], r["n_window_pairs"])
        for r in split_leakage_audit(df).collect()
    }
    want = _leakage_ref(docs)
    assert got == want
    assert want, "the copied doc must actually leak across splits"


# ---------------------------------------------------------------------------
# graph family
# ---------------------------------------------------------------------------


def _kcore_ref(edges, k):
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    alive = set(adj)
    while True:
        doomed = {n for n in alive if sum(1 for m in adj[n] if m in alive) < k}
        if not doomed:
            break
        alive -= doomed
    return {n: sum(1 for m in adj[n] if m in alive) for n in alive}


def test_kcore_deep_peeling_matches_bruteforce(spark):
    """The round-5 ADVICE shape: a graph whose peeling needs far more
    rounds than the old fixed 8-round unroll — a 40-node path (peels
    ~20 synchronous rounds from both ends) grafted onto a K4 that
    must survive as the 3-core... plus a long path into a triangle,
    which must peel away ENTIRELY at k=3."""
    path = [(i, i + 1) for i in range(100, 140)]
    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    bridge = [(140, 0)]
    tri_tail = [(200 + i, 201 + i) for i in range(30)] + [
        (230, 231), (231, 232), (232, 230)
    ]
    edges = path + k4 + bridge + tri_tail
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["core_deg"] for r in kcore(df, k=3).collect()}
    assert got == _kcore_ref(edges, 3)
    assert set(got) == {0, 1, 2, 3}, "only the K4 survives at k=3"


@pytest.mark.parametrize("seed", [10])
def test_kcore_random_matches_bruteforce(spark, seed):
    rng = random.Random(seed)
    edges = list(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(40), rng.randrange(40)) for _ in range(180)
            )
            if a != b
        }
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["core_deg"] for r in kcore(df, k=3).collect()}
    assert got == _kcore_ref(edges, 3)


def _triangles_ref(edges):
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    deg = {n: len(adj[n]) for n in adj}
    nodes = sorted(adj)
    out = defaultdict(int)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            if b not in adj[a]:
                continue
            for c in nodes:
                if c <= b or c not in adj[a] or c not in adj[b]:
                    continue
                apex = min((a, b, c), key=lambda n: (deg[n], n))
                out[apex] += 1
    return dict(out)


@pytest.mark.parametrize("seed", [11, 12])
def test_triangle_count_matches_bruteforce(spark, seed):
    rng = random.Random(seed)
    raw = [(rng.randrange(30), rng.randrange(30)) for _ in range(200)]
    raw += [(5, 5), (7, 7)]  # self-loops must be ignored
    raw += raw[:20]  # duplicate edges must be deduped
    df = spark.createDataFrame(raw, "src long, dst long")
    got = {r["apex"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == _triangles_ref(raw)


def _pagerank_ref(edges, iterations=8):
    nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    n = len(nodes)
    base = PR_SCALE // n
    teleport = (100 - 85) * PR_SCALE // (100 * n)
    wout = defaultdict(int)
    for s, _, w in edges:
        wout[s] += w
    rank = {v: base for v in nodes}
    for _ in range(iterations):
        incoming = defaultdict(int)
        for s, t, w in edges:
            incoming[t] += (rank[s] * w) // wout[s]
        rank = {v: teleport + (85 * incoming.get(v, 0)) // 100 for v in nodes}
    return rank


@pytest.mark.parametrize("seed", [13])
def test_pagerank_matches_bruteforce(spark, seed):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(25), rng.randrange(25), rng.randrange(1, 5))
        for _ in range(120)
    ]
    # a pure sink (no out-edges): its mass is dropped, never divided by 0
    edges.append((3, 999, 2))
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {
        r["node"]: r["rank_e9"]
        for r in pagerank(df, weight="w", iterations=8).collect()
    }
    assert got == _pagerank_ref(edges, 8)


def _assortativity_ref(edges):
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[min(u, v)].add(max(u, v))
    und = [(u, v) for u, vs in adj.items() for v in vs]
    deg = defaultdict(int)
    for u, v in und:
        deg[u] += 1
        deg[v] += 1
    xs, ys = [], []
    for u, v in und:
        xs += [deg[u], deg[v]]
        ys += [deg[v], deg[u]]
    m = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    num = m * sxy - sx * sy
    den = math.sqrt(float(m * sxx - sx * sx) * float(m * syy - sy * sy))
    return m, sx, sy, sxx, syy, sxy, num / den


@pytest.mark.parametrize("seed", [14])
def test_assortativity_matches_bruteforce(spark, seed):
    rng = random.Random(seed)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(150)]
    df = spark.createDataFrame(edges, "src long, dst long")
    r = degree_assortativity_moments(df).collect()[0]
    m, sx, sy, sxx, syy, sxy, rr = _assortativity_ref(edges)
    assert (r["m"], r["sx"], r["sy"], r["sxx"], r["syy"], r["sxy"]) == (
        m, sx, sy, sxx, syy, sxy,
    )
    assert r["r"] == pytest.approx(rr, rel=1e-12)


# ---------------------------------------------------------------------------
# sessionization family
# ---------------------------------------------------------------------------


def _sessionize_ref(rows):
    by_entity = defaultdict(list)
    for u, y, t in rows:
        by_entity[u].append((t, y))
    out = {}
    for u, evts in by_entity.items():
        evts.sort()  # (ts, state) — the engine's window order
        for (t1, y1), (t2, _) in zip(evts, evts[1:]):
            key = (u, y1)
            n, dur, last = out.get(key, (0, 0, 0))
            out[key] = (n + 1, dur + (t2 - t1), max(last, t2))
    return out


@pytest.mark.parametrize("seed", [15, 16])
def test_sessionize_matches_bruteforce(spark, seed):
    """Random streams plus the edge cases: single-event entities emit
    NOTHING (their only session is still open), and ts ties resolve by
    state order."""
    rng = random.Random(seed)
    rows = [
        (
            rng.randrange(30),
            rng.choice(["open", "wip", "review", "done"]),
            rng.randrange(0, 300),
        )
        for _ in range(250)
    ]
    rows.append((777, "open", 5))  # single-event entity: no output rows
    rows += [(778, "open", 10), (778, "wip", 10)]  # exact ts tie
    got = {
        (r["entity"], r["state_name"]): (
            r["status_transitions_count"],
            r["duration"],
            int(r["last_seen"].timestamp()),
        )
        for r in sessionize_events(_mk_events(spark, rows)).collect()
    }
    assert got == _sessionize_ref(rows)
    assert not any(e == 777 for e, _ in got), "open session must be excluded"


# ---------------------------------------------------------------------------
# sequence / retention family (round-6 widening)
# ---------------------------------------------------------------------------


def _pattern_count_ref(rows, pattern):
    by_user = defaultdict(list)
    for i, (u, y, t) in enumerate(rows):
        by_user[u].append((t, i, y))
    out = {}
    for u, evts in by_user.items():
        evts.sort()
        seq = "".join(y[0] for _, _, y in evts)
        # the replace-length trick counts NON-overlapping left-to-right
        # occurrences — exactly str.count's contract
        out[u] = (len(seq), seq.count(pattern))
    return out


@pytest.mark.parametrize("seed", [17])
def test_event_pattern_count_matches_bruteforce(spark, seed):
    from yandex_tracker_exporter_spark.operators.funnel import (
        event_pattern_count,
    )

    rng = random.Random(seed)
    rows = [
        (
            rng.randrange(25),
            rng.choice(["view", "click", "purchase"]),
            rng.randrange(0, 200),
        )
        for _ in range(300)
    ]
    # overlap bait: "vcvcp" must count ONE "vcp", not two
    rows += [(990, "view", 1), (990, "click", 2), (990, "view", 3),
             (990, "click", 4), (990, "purchase", 5)]
    got = {
        r["user_id"]: (r["seq_len"], r["n_matches"])
        for r in event_pattern_count(_mk_events(spark, rows), pattern="vcp").collect()
    }
    assert got == _pattern_count_ref(rows, "vcp")
    assert got[990] == (5, 1)


def _top_paths_ref(rows, depth, topk):
    by_user = defaultdict(list)
    for i, (u, y, t) in enumerate(rows):
        by_user[u].append((t, i, y))
    counts = defaultdict(int)
    for evts in by_user.values():
        evts.sort()
        types = [y for _, _, y in evts]
        for i in range(len(types) - depth + 1):
            counts[" > ".join(types[i:i + depth])] += 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return dict(ranked[:topk])


@pytest.mark.parametrize("seed", [18])
def test_top_paths_matches_bruteforce(spark, seed):
    from yandex_tracker_exporter_spark.operators.funnel import top_paths

    rng = random.Random(seed)
    rows = [
        (
            rng.randrange(20),
            rng.choice(["a", "b", "c"]),
            rng.randrange(0, 150),
        )
        for _ in range(400)
    ]
    got = {
        r["path"]: r["n_occurrences"]
        for r in top_paths(_mk_events(spark, rows), depth=3, topk=10).collect()
    }
    assert got == _top_paths_ref(rows, 3, 10)


def _value_histogram_ref(rows, bin_width=5, n_bins=20):
    out = defaultdict(int)
    for y, v in rows:
        b = min(max(math.floor(v / bin_width), 0), n_bins - 1)
        out[(y, b)] += 1
    return dict(out)


@pytest.mark.parametrize("seed", [19])
def test_value_histogram_matches_bruteforce(spark, seed):
    from yandex_tracker_exporter_spark.operators.funnel import value_histogram

    rng = random.Random(seed)
    rows = [
        (
            rng.choice(["x", "y"]),
            rng.uniform(-10, 150),  # includes below-0 and above-range clamps
        )
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "event_type string, value double")
    got = {
        (r["event_type"], r["bin"]): r["n_events"]
        for r in value_histogram(df).collect()
    }
    assert got == _value_histogram_ref(rows)


def _cohort_retention_ref(rows):
    import datetime as dt

    def monday(epoch):
        d = dt.datetime.fromtimestamp(epoch, dt.timezone.utc).date()
        return d - dt.timedelta(days=d.weekday())

    by_user = defaultdict(set)
    for u, t in rows:
        by_user[u].add(monday(t))
    out = defaultdict(int)
    for weeks in by_user.values():
        cohort = min(weeks)
        for wk in weeks:
            out[(cohort.isoformat(), (wk - cohort).days // 7)] += 1
    return dict(out)


@pytest.mark.parametrize("seed", [20])
def test_cohort_retention_matches_bruteforce(spark, seed):
    from yandex_tracker_exporter_spark.operators.funnel import cohort_retention

    rng = random.Random(seed)
    # epochs spanning ~10 weeks from a fixed origin
    rows = [
        (rng.randrange(40), 1_700_000_000 + rng.randrange(0, 86400 * 70))
        for _ in range(600)
    ]
    df = spark.createDataFrame(rows, "user_id long, ep long").select(
        "user_id", F.col("ep").cast("timestamp").alias("ts")
    )
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in cohort_retention(df).collect()
    }
    assert got == _cohort_retention_ref(rows)


# ---------------------------------------------------------------------------
# text-statistics family (round-6 widening #2)
# ---------------------------------------------------------------------------


def _toks_ref(text):
    """The repo tokenizer's exact semantics: split(trim(text), \\s+) —
    trimmed-empty input yields [''] (one empty token), like Spark."""
    t = text.strip()
    return t.split()


def _bigram_lm_ref(texts):
    c12, c1, vocab = defaultdict(int), defaultdict(int), set()
    for tx in texts:
        t = _toks_ref(tx)
        vocab.update(t)
        for a, b in zip(t, t[1:]):
            c12[(a, b)] += 1
            c1[a] += 1
    v = len(vocab)
    return {
        (a, b): (n, c1[a], v, ((n + 1) * 1000) // (c1[a] + v))
        for (a, b), n in c12.items()
    }


@pytest.mark.parametrize("seed", [21])
def test_bigram_lm_matches_bruteforce(spark, seed):
    """Seeds the prefix-count subtlety: c1 counts w1 as a BIGRAM PREFIX
    (tokens with a successor), not raw unigrams — a doc-final token
    must not inflate c1. Includes single-token and empty docs."""
    from yandex_tracker_exporter_spark.operators.text_analysis import bigram_lm

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 25)))
        for _ in range(80)
    ]
    texts += ["solo", "", "   "]  # 1-token and empty docs
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {
        (r["w1"], r["w2"]): (r["c12"], r["c1"], r["v"], r["p_milli"])
        for r in bigram_lm(df).collect()
    }
    assert got == _bigram_lm_ref(texts)


def _bm25_ref(docs, terms, k1=1.2, b=0.75, topk=10):
    toks = {i: _toks_ref(t) for i, t in docs}
    n = float(len(toks))
    sum_dl = float(sum(len(ts) for ts in toks.values()))
    avgdl = sum_dl / n
    dfs = [
        float(sum(1 for ts in toks.values() if term in ts)) for term in terms
    ]
    out = []
    for i, ts in sorted(toks.items()):
        dl = float(len(ts))
        s = 0.0
        for term, dfv in zip(terms, dfs):
            tf = float(ts.count(term))
            idf_r = (n - dfv + 0.5) / (dfv + 0.5)
            denom = tf + k1 * (1.0 - b + b * (dl / avgdl))
            s = s + idf_r * ((tf * (k1 + 1.0)) / denom)
        out.append((i, int(dl), s))
    out.sort(key=lambda r: (-r[2], r[0]))
    return out[:topk]


@pytest.mark.parametrize("seed", [22])
def test_bm25_rank_matches_bruteforce_bitexact(spark, seed):
    """Same fixed-association float order as the engine — scores must be
    BIT-identical, not approximately equal (that is the whole
    cross-engine design)."""
    from yandex_tracker_exporter_spark.operators.text_analysis import bm25_rank

    rng = random.Random(seed)
    vocab = ["table", "join", "window", "scan", "sort", "agg", "x", "y"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 30))))
        for i in range(120)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r["doc_id"], r["dl"], r["score"])
        for r in bm25_rank(df, ("table", "join", "window")).collect()
    ]
    assert got == _bm25_ref(docs, ("table", "join", "window"))


def _pmi_ref(docs, top_k=20):
    sets = {i: set(_toks_ref(t)) for i, t in docs}
    dfreq = defaultdict(int)
    for s in sets.values():
        for t in s:
            dfreq[t] += 1
    top = sorted(dfreq.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
    topset = {t for t, _ in top}
    n_docs = len(sets)
    c_ab = defaultdict(int)
    for s in sets.values():
        present = sorted(s & topset)
        for i, a in enumerate(present):
            for b in present[i + 1:]:
                c_ab[(a, b)] += 1
    return {
        (a, b): (
            dfreq[a], dfreq[b], n, n_docs,
            (n * n_docs * 1000) // (dfreq[a] * dfreq[b]),
        )
        for (a, b), n in c_ab.items()
    }


@pytest.mark.parametrize("seed", [23])
def test_term_pmi_matches_bruteforce(spark, seed):
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        term_cooccurrence_pmi,
    )

    rng = random.Random(seed)
    vocab = [f"t{i:02d}" for i in range(30)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 20))))
        for i in range(150)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["term_a"], r["term_b"]): (
            r["c_a"], r["c_b"], r["c_ab"], r["n_docs"], r["pmi_milli"],
        )
        for r in term_cooccurrence_pmi(df).collect()
    }
    assert got == _pmi_ref(docs)


def _dup_window_ref(docs, window_tokens=16):
    windows = {}
    for i, t in docs:
        toks = _toks_ref(t)
        n_chunks = max(1, -(-len(toks) // window_tokens))
        windows[i] = [
            " ".join(toks[w * window_tokens:(w + 1) * window_tokens])
            for w in range(n_chunks)
        ]
    occurs = defaultdict(set)
    for i, ws in windows.items():
        for w in ws:
            occurs[w].add(i)
    out = {}
    for i, ws in windows.items():
        dup = sum(1 for w in ws if len(occurs[w]) >= 2)
        out[i] = (len(ws), dup, dup / len(ws))
    return out


@pytest.mark.parametrize("seed", [24])
def test_dup_window_ratio_matches_bruteforce(spark, seed):
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        duplicated_window_ratio,
    )

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    boiler = " ".join(rng.choice(vocab) for _ in range(16))
    docs = []
    for i in range(60):
        body = " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 50)))
        # a third of the docs carry the exact boilerplate window FIRST
        # (aligned at a window boundary, so it is the duplicated one)
        docs.append((i, (boiler + " " + body) if i % 3 == 0 else body))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_ratio"])
        for r in duplicated_window_ratio(df).collect()
    }
    assert got == _dup_window_ref(docs)
    assert any(v[1] > 0 for v in got.values()), "boilerplate must be flagged"


# ---------------------------------------------------------------------------
# chunking / packing / smoothing family (round-6 widening #3)
# ---------------------------------------------------------------------------


def _cdc_ref(text, window=8, mod=64):
    cps = [ord(c) for c in text] if text else [0]
    n = len(text)
    cuts = []
    if n >= window:
        for i in range(1, n - window + 2):  # 1-based window starts
            h = 0
            for j in range(window):
                h = (h * 131 + cps[i - 1 + j]) % P31
            if h % mod == 0:
                cuts.append(i + window - 1)
    ends = sorted(set(cuts) | {n})
    out, prev = [], 0
    for idx, e in enumerate(ends, 1):
        h = 0
        for c in cps[prev:e]:
            h = (h * 131 + c) % P31
        out.append((idx, prev + 1, e - prev, h))
        prev = e
    return out


@pytest.mark.parametrize("seed", [25])
def test_cdc_chunks_matches_bruteforce(spark, seed):
    """Rolling-hash cut points, the final cut at n, the cut==n dedup,
    sub-window docs (single chunk), and the empty-doc zero-length
    chunk with hash 0."""
    from yandex_tracker_exporter_spark.operators.dedup import cdc_chunks

    rng = random.Random(seed)
    docs = [
        (i, "".join(rng.choice("abcdefgh ") for _ in range(rng.randrange(0, 400))))
        for i in range(40)
    ]
    docs += [(100, ""), (101, "tiny"), (102, "exactly8")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = defaultdict(list)
    for r in cdc_chunks(df).collect():
        got[r["doc_id"]].append(
            (r["chunk_idx"], r["start"], r["chunk_len"], r["chunk_hash"])
        )
    want = {i: _cdc_ref(t) for i, t in docs}
    assert {k: sorted(v) for k, v in got.items()} == {
        k: sorted(v) for k, v in want.items()
    }
    assert any(len(v) > 1 for v in want.values()), "fixture must cut somewhere"


def _winnow_ref(text, k=9, window=4):
    cps = [ord(c) for c in text]
    n = len(cps)
    if n >= k:
        hs = []
        for i in range(n - k + 1):
            h = 0
            for c in cps[i:i + k]:
                h = (h * 131 + c) % P31
            hs.append(h)
    else:
        h = 0
        for c in cps:
            h = (h * 131 + c) % P31
        hs = [h]
    if len(hs) >= window:
        mins = [min(hs[j:j + window]) for j in range(len(hs) - window + 1)]
    else:
        mins = [min(hs)]
    return sorted(set(mins))


def _winnow_pairs_ref(docs, max_df=10, min_shared=3):
    fps = {i: set(_winnow_ref(t)) for i, t in docs}
    dfreq = defaultdict(int)
    for s in fps.values():
        for fp in s:
            dfreq[fp] += 1
    rare = {i: {fp for fp in s if dfreq[fp] <= max_df} for i, s in fps.items()}
    out = {}
    ids = sorted(rare)
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            shared = len(rare[a] & rare[b])
            if shared >= min_shared:
                out[(a, b)] = shared
    return out


@pytest.mark.parametrize("seed", [26])
def test_winnow_pairs_matches_bruteforce(spark, seed):
    """Winnowing fingerprint selection (window minima, dedup), the
    stop-fingerprint df cap, and the min-shared threshold — including
    a boilerplate span present in MORE than max_df docs, whose
    fingerprints must carry no dedup signal."""
    from yandex_tracker_exporter_spark.operators.dedup import (
        winnow_duplicate_pairs,
        winnow_fingerprints,
    )

    rng = random.Random(seed)
    boiler = "".join(rng.choice("qrstuv") for _ in range(40))
    docs = []
    for i in range(30):
        body = "".join(rng.choice("abcdefgh ") for _ in range(rng.randrange(20, 120)))
        # 12 docs (> max_df 10) share the same boilerplate prefix
        docs.append((i, (boiler + body) if i < 12 else body))
    # one planted near-dup pair sharing a long unique span
    span = "".join(rng.choice("wxyz") for _ in range(60))
    docs += [(200, span + "tailA"), (201, "headB" + span)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fp_got = {
        r["doc_id"]: sorted(r["fingerprints"])
        for r in winnow_fingerprints(df).collect()
    }
    assert fp_got == {i: _winnow_ref(t) for i, t in docs}
    got = {
        (r["a_id"], r["b_id"]): r["shared_fps"]
        for r in winnow_duplicate_pairs(df).collect()
    }
    want = _winnow_pairs_ref(docs)
    assert got == want
    assert (200, 201) in want, "planted span pair must qualify"


def _pack_ref(docs, budget=2048, num_shards=32):
    out = {}
    by_shard = defaultdict(list)
    for i, t in sorted(docs):
        by_shard[i % num_shards].append((i, len(_toks_ref(t))))
    for shard, items in by_shard.items():
        running = 0
        for i, n in items:  # already in doc_id order
            running += n
            out[i] = (shard, (running - n) // budget, n)
    return out


@pytest.mark.parametrize("seed", [27])
def test_pack_token_budget_matches_bruteforce(spark, seed):
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        pack_token_budget,
    )

    rng = random.Random(seed)
    docs = [
        (i, " ".join("w" for _ in range(rng.randrange(1, 900))))
        for i in range(200)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["shard"], r["bin_idx"], r["n_tokens"])
        for r in pack_token_budget(df).collect()
    }
    assert got == _pack_ref(docs)
    assert max(b for _, b, _ in got.values()) >= 1, "fixture must overflow a bin"


def _ewma_ref(rows, alpha_milli=300):
    alpha = alpha_milli / 1000.0
    daily = defaultdict(lambda: [0, 0])  # (type, day) -> [sum_cents, n]
    for y, ep, v in rows:
        cell = daily[(y, ep // 86400 * 86400)]
        cell[0] += math.floor(v * 100)
        cell[1] += 1
    by_type = defaultdict(list)
    for (y, day), (s, n) in daily.items():
        by_type[y].append((day, float(s) / float(n)))
    out = {}
    for y, days in by_type.items():
        days.sort()
        prev = None
        for day, mean in days:
            e = mean if prev is None else alpha * mean + (1.0 - alpha) * prev
            out[(y, day)] = (mean, e)
            prev = e
    return out


@pytest.mark.parametrize("seed", [28])
def test_ewma_daily_matches_bruteforce_bitexact(spark, seed):
    """The EWMA left fold must be BIT-identical (same fixed-order IEEE
    ops), not approximately equal."""
    from yandex_tracker_exporter_spark.operators.funnel import ewma_daily

    rng = random.Random(seed)
    rows = [
        (
            rng.choice(["a", "b"]),
            1_700_000_000 + rng.randrange(0, 86400 * 20),
            rng.uniform(0, 500),
        )
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "event_type string, ep long, value double").select(
        "event_type", F.col("ep").cast("timestamp").alias("ts"), "value"
    )
    got = {
        (r["event_type"], r["day_epoch"]): (r["day_mean"], r["ewma"])
        for r in ewma_daily(df).collect()
    }
    assert got == _ewma_ref(rows)


# ---------------------------------------------------------------------------
# temporal / join family (round-6 widening #4)
# ---------------------------------------------------------------------------


def _asof_ref(lrows, rrows):
    by_key = defaultdict(list)
    for k, t, p in rrows:
        by_key[k].append((t, p))
    out = []
    for k, t in lrows:
        best = None
        for rt, p in sorted(by_key.get(k, [])):
            if rt <= t:
                best = p
        out.append((k, t, best))
    return sorted(out, key=str)


@pytest.mark.parametrize("seed", [29])
def test_asof_join_matches_bruteforce(spark, seed):
    """At-or-before semantics including the exact-tie case (a right row
    AT the left timestamp is taken) and keys with no prior right row
    (null payload)."""
    from yandex_tracker_exporter_spark.operators.asof import asof_join

    rng = random.Random(seed)
    # unique (key, ts) on the right: equal-ts right duplicates are
    # explicitly out of contract (last() tie order would be plan-defined)
    rts = {(rng.randrange(12), rng.randrange(0, 500)) for _ in range(150)}
    rrows = [(k, t, k * 10000 + t) for k, t in rts]
    lrows = [(rng.randrange(14), rng.randrange(0, 500)) for _ in range(200)]
    lrows += [(k, t) for k, t, _ in rrows[:10]]  # exact-tie probes
    left = spark.createDataFrame(
        [(k, t) for k, t in lrows], "key long, ep long"
    ).select("key", F.col("ep").cast("timestamp").alias("lts"), F.col("ep").alias("lep"))
    right = spark.createDataFrame(rrows, "key long, ep long, px long").select(
        "key", F.col("ep").cast("timestamp").alias("rts"), "px"
    )
    got = sorted(
        ((r["key"], r["lep"], r["px"]) for r in
         asof_join(left, right, "key", "lts", "rts", ["px"]).collect()),
        key=str,
    )
    assert got == _asof_ref(lrows, rrows)


@pytest.mark.parametrize("seed", [30])
def test_interval_join_matches_bruteforce(spark, seed):
    """start <= point < end containment, including intervals longer than
    the bucket width (multi-bucket explode) and boundary points."""
    from yandex_tracker_exporter_spark.operators.rangejoin import interval_join

    rng = random.Random(seed)
    points = [(i, rng.randrange(0, 50000)) for i in range(200)]
    ivals = []
    for j in range(40):
        s = rng.randrange(0, 45000)
        ivals.append((j, s, s + rng.randrange(1, 9000)))  # spans many 3600-buckets
    # boundary probes: points exactly at start (in) and end (out)
    points += [(900, ivals[0][1]), (901, ivals[0][2])]
    pdf = spark.createDataFrame(points, "pid long, pep long").select(
        "pid", F.col("pep").cast("timestamp").alias("pts"), "pep"
    )
    idf = spark.createDataFrame(ivals, "iid long, sep long, eep long").select(
        "iid",
        F.col("sep").cast("timestamp").alias("sts"),
        F.col("eep").cast("timestamp").alias("ets"),
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in interval_join(pdf, idf, "pts", "sts", "ets").collect()
    )
    want = sorted(
        (pid, iid)
        for pid, pep in points
        for iid, s, e in ivals
        if s <= pep < e
    )
    assert got == want
    assert (900, ivals[0][0]) in want and (901, ivals[0][0]) not in want


def _scd2_ref(rows, open_end):
    by_user = defaultdict(list)
    for i, (u, t, v) in enumerate(rows):
        by_user[u].append((t, i, v))
    out = []
    for u, evts in by_user.items():
        evts.sort(key=lambda e: (e[0], e[1]))
        runs = []
        for t, _, v in evts:
            if not runs or runs[-1][1] != v:
                runs.append((t, v))
        for j, (t, v) in enumerate(runs):
            end = runs[j + 1][0] if j + 1 < len(runs) else open_end
            out.append((u, v, t, end, 1 if j + 1 == len(runs) else 0))
    return sorted(out, key=str)


@pytest.mark.parametrize("seed", [31])
def test_scd2_intervals_matches_bruteforce(spark, seed):
    """Run collapse (consecutive equal values), leading-null runs,
    null-safe change compare, and the open-run sentinel."""
    from yandex_tracker_exporter_spark.operators.temporal import (
        SCD2_OPEN_END,
        scd2_intervals,
    )

    rng = random.Random(seed)
    rows = []
    for _ in range(300):
        rows.append(
            (
                rng.randrange(20),
                rng.randrange(0, 1000),
                rng.choice([None, 1, 1, 2, 3]),  # nulls + repeats → runs
            )
        )
    # dedupe (user, ts) so window order is deterministic without ids
    seen = set()
    uniq = []
    for u, t, v in rows:
        if (u, t) not in seen:
            seen.add((u, t))
            uniq.append((u, t, v))
    rows = uniq
    df = spark.createDataFrame(
        [(u, t, i, None if v is None else f'{{"k": {v}}}')
         for i, (u, t, v) in enumerate(rows)],
        "user_id long, ep long, event_id long, props string",
    ).select(
        "user_id", F.col("ep").cast("timestamp").alias("ts"), "event_id", "props"
    )
    got = sorted(
        ((r["entity"], r["value"], r["valid_from"], r["valid_to"], r["is_current"])
         for r in scd2_intervals(df).collect()),
        key=str,
    )
    assert got == _scd2_ref([(u, t, v) for u, t, v in rows], SCD2_OPEN_END)


def _reset_total_ref(rows, gap_s=3600):
    by_user = defaultdict(list)
    for i, (u, t, v) in enumerate(rows):
        by_user[u].append((t, i, v))
    out = {}
    for u, evts in by_user.items():
        evts.sort(key=lambda e: (e[0], e[1]))
        session = 0
        prev_t = None
        running = 0
        for t, i, v in evts:
            if prev_t is None or t - prev_t > gap_s:
                session += 1
                running = 0
            running += math.floor(v * 100)
            out[i] = (u, t, session, running)
            prev_t = t
    return out


@pytest.mark.parametrize("seed", [32])
def test_reset_running_total_matches_bruteforce(spark, seed):
    from yandex_tracker_exporter_spark.operators.temporal import (
        reset_running_total,
    )

    rng = random.Random(seed)
    rows = [
        (rng.randrange(15), rng.randrange(0, 40000), rng.uniform(0, 50))
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        [(u, t, i, v) for i, (u, t, v) in enumerate(rows)],
        "user_id long, ep long, event_id long, value double",
    ).select(
        "user_id", F.col("ep").cast("timestamp").alias("ts"), "event_id", "value"
    )
    res = reset_running_total(df)
    total_col = [c for c in res.columns if c not in
                 ("entity", "event_id", "epoch_s", "session_idx")][0]
    got = {
        r["event_id"]: (r["entity"], r["epoch_s"], r["session_idx"], r[total_col])
        for r in res.collect()
    }
    assert got == _reset_total_ref(rows)


@pytest.mark.parametrize("seed", [33])
def test_gap_fill_hourly_matches_bruteforce(spark, seed):
    """Dense grid: every (hour, type) slot in [min, max] present, zeros
    where no events landed — a missing row and a zero row differ."""
    from yandex_tracker_exporter_spark.operators.funnel import gap_fill_hourly

    rng = random.Random(seed)
    rows = [
        (rng.choice(["a", "b", "c"]),
         1_700_000_000 + rng.randrange(0, 3600 * 50))
        for _ in range(120)
    ]
    df = spark.createDataFrame(rows, "event_type string, ep long").select(
        "event_type", F.col("ep").cast("timestamp").alias("ts")
    )
    got = {
        (r["hour_epoch"], r["type"]): r["n_events"]
        for r in gap_fill_hourly(df).collect()
    }
    counts = defaultdict(int)
    for y, ep in rows:
        counts[(ep // 3600 * 3600, y)] += 1
    hours_lo = min(h for h, _ in counts)
    hours_hi = max(h for h, _ in counts)
    types = {y for _, y in counts}
    want = {
        (h, y): counts.get((h, y), 0)
        for h in range(hours_lo, hours_hi + 1, 3600)
        for y in types
    }
    assert got == want
    assert any(v == 0 for v in got.values()), "grid must contain zero slots"


# ---------------------------------------------------------------------------
# statistics family (round-6 widening #5)
# ---------------------------------------------------------------------------


def _rolling_corr_ref(rows, type_a="view", type_b="click"):
    daily = defaultdict(lambda: [0, 0])
    for y, ep, v in rows:
        if y in (type_a, type_b):
            cell = daily[(ep // 86400 * 86400, y)]
            cell[0] += math.floor(v * 100)
            cell[1] += 1
    means = {k: (s * 1000) // n for k, (s, n) in daily.items()}
    days = sorted(
        d for d in {k[0] for k in means}
        if (d, type_a) in means and (d, type_b) in means
    )
    out = {}
    for i in range(6, len(days)):
        frame = days[i - 6:i + 1]
        xs = [means[(d, type_a)] for d in frame]
        ys = [means[(d, type_b)] for d in frame]
        n = 7
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        num = float(n) * float(sxy) - float(sx) * float(sy)
        denx = float(n) * float(sxx) - float(sx) * float(sx)
        deny = float(n) * float(syy) - float(sy) * float(sy)
        out[days[i]] = (n, num / math.sqrt(denx * deny))
    return out


@pytest.mark.parametrize("seed", [34])
def test_rolling_corr_7d_matches_bruteforce(spark, seed):
    """Windowed Pearson over exact int moments: the ROWS frame runs over
    DAYS WITH BOTH SERIES PRESENT (the pivot drops one-sided days), so
    a reference that frames over calendar days would diverge — the
    fixture deliberately includes one-sided days."""
    from yandex_tracker_exporter_spark.operators.funnel import rolling_corr_7d

    rng = random.Random(seed)
    rows = []
    for day in range(20):
        for y in ("view", "click", "purchase"):
            if y == "click" and day in (4, 11):
                continue  # one-sided days: view present, click absent
            for _ in range(rng.randrange(1, 6)):
                rows.append(
                    (y, 1_700_000_000 + day * 86400 + rng.randrange(0, 86400),
                     rng.uniform(1, 80))
                )
    df = spark.createDataFrame(
        rows, "event_type string, ep long, value double"
    ).select("event_type", F.col("ep").cast("timestamp").alias("ts"), "value")
    got = {
        r["day_epoch"]: (r["n_days"], r["r"])
        for r in rolling_corr_7d(df).collect()
    }
    assert got == _rolling_corr_ref(rows)
    assert got, "fixture must produce full frames"


def _gini_ref(rows):
    per_src = defaultdict(int)
    for s, t in rows:
        per_src[s] += len(_toks_ref(t))
    xs = sorted(per_src.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(xs)
    total = sum(v for _, v in xs)
    iwx = sum(i * v for i, (_, v) in enumerate(xs, 1))
    return (n, total, ((2 * iwx - (n + 1) * total) * 1000) // (n * total))


@pytest.mark.parametrize("seed", [35])
def test_source_gini_matches_bruteforce(spark, seed):
    from yandex_tracker_exporter_spark.operators.text_analysis import source_gini

    rng = random.Random(seed)
    rows = [
        (f"s{rng.randrange(12)}",
         " ".join("w" for _ in range(rng.randrange(1, 100))))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    r = source_gini(df).collect()[0]
    assert (r["n_sources"], r["total_tokens"], r["gini_milli"]) == _gini_ref(rows)


def _apportion_ref(rows, budget=1_000_000):
    per_src = defaultdict(int)
    for s, t in rows:
        per_src[s] += len(_toks_ref(t))
    w = sum(per_src.values())
    staged = {
        s: ((budget * t) // w, (budget * t) % w, t) for s, t in per_src.items()
    }
    qsum = sum(q for q, _, _ in staged.values())
    leftover = budget - qsum
    order = sorted(staged.items(), key=lambda kv: (-kv[1][1], kv[0]))
    out = {}
    for rk, (s, (q, _, t)) in enumerate(order, 1):
        extra = 1 if rk <= leftover else 0
        out[s] = (t, q, extra, q + extra)
    return out


@pytest.mark.parametrize("seed", [36])
def test_mixture_apportion_matches_bruteforce(spark, seed):
    """Largest-remainder apportionment: Σ alloc must equal the budget
    EXACTLY, floor quotas + remainder-ranked leftovers, ties on the
    remainder broken by source name."""
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        mixture_apportion,
    )

    rng = random.Random(seed)
    rows = [
        (f"s{rng.randrange(9)}",
         " ".join("w" for _ in range(rng.randrange(1, 200))))
        for _ in range(250)
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        r["source"]: (r["tokens"], r["quota"], r["extra"], r["alloc"])
        for r in mixture_apportion(df).collect()
    }
    want = _apportion_ref(rows)
    assert got == want
    assert sum(a for _, _, _, a in got.values()) == 1_000_000


def _pareto_ref(rows):
    by_group = defaultdict(list)
    for g, i, cost, gain in rows:
        by_group[g].append((i, cost, gain))
    out = set()
    for g, docs in by_group.items():
        for i, c, t in docs:
            dominated = any(
                (c2 <= c and t2 >= t and (c2 < c or t2 > t))
                for _, c2, t2 in docs
            )
            if not dominated:
                out.add((g, i, c, t))
    return out


@pytest.mark.parametrize("seed", [37])
def test_pareto_frontier_matches_bruteforce(spark, seed):
    """NOT-EXISTS dominance semantics, including equal-(cost,gain)
    duplicates that must survive TOGETHER and equal-cost strict-gain
    domination."""
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        pareto_frontier,
    )

    rng = random.Random(seed)
    rows = []
    for i in range(200):
        g = rng.choice(["en", "de"])
        n_toks = rng.randrange(1, 40)
        rows.append((g, i, rng.randrange(5, 200), n_toks))
    # equal-(cost,gain) twins in one group
    rows += [("en", 900, 7, 30), ("en", 901, 7, 30)]
    df = spark.createDataFrame(
        [(g, i, c, " ".join("w" for _ in range(t))) for g, i, c, t in rows],
        "lang string, doc_id long, n_chars long, text string",
    )
    got = {
        (r["lang"], r["doc_id"], r["cost"], r["gain"])
        for r in pareto_frontier(df).collect()
    }
    want = _pareto_ref(rows)
    assert got == want
    twins = {p for p in got if p[1] in (900, 901)}
    assert len(twins) in (0, 2), "equal twins live or die together"


def _morton_ref(x, y, bits=16):
    xm, ym = x % (1 << bits), y % (1 << bits)
    key = 0
    for j in range(bits):
        key += ((xm >> j) & 1) << (2 * j)
        key += ((ym >> j) & 1) << (2 * j + 1)
    return key


@pytest.mark.parametrize("seed", [38])
def test_zorder_key_matches_bruteforce(spark, seed):
    from yandex_tracker_exporter_spark.operators.partitioning import zorder_key

    rng = random.Random(seed)
    rows = [(rng.randrange(1 << 20), rng.randrange(1 << 20)) for _ in range(300)]
    rows += [(0, 0), (65535, 65535), (1 << 19, 3)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = [
        (r["x"], r["y"], r["k"])
        for r in df.select("x", "y", zorder_key("x", "y").alias("k")).collect()
    ]
    for x, y, k in got:
        assert k == _morton_ref(x, y), (x, y, k)
