"""Property-based tests (hypothesis) for the operators the DuckDB oracle is
weakest on: the iterative connected-components loop (oracle = recursive CTE,
but only on the one fixture graph) and the SimHash bit-block LSH counting
(rows-only — no oracle at all). Random inputs × exact reference
implementations close that gap.

Examples are deliberately few (Spark jobs per example); the value is in the
randomized structure, not the count.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _union_find_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference: min-id component label per node, plain union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for n in (a, b):
            parent.setdefault(n, n)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=30,
    )
)
def test_connected_components_matches_union_find(spark, monkeypatch, edges):
    """Both CC paths equal the reference labels: the distributed loop
    (``cache.LOCAL_TAIL_MAX`` 0; these graphs all fit the default local
    tail) and the driver-memory finish."""
    from distributed_system_mapreduce_spark import cache
    from distributed_system_mapreduce_spark.operators.dedup import (
        connected_components,
    )

    expected = _union_find_labels(edges)
    both_dirs = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    df = spark.createDataFrame(both_dirs, "src long, dst long")

    def labels() -> dict:
        out = connected_components(df)
        assert out.dtypes == [("id", "bigint"), ("label", "bigint")]
        return {r["id"]: r["label"] for r in out.collect()}

    assert labels() == expected
    with monkeypatch.context() as m:
        m.setattr(cache, "LOCAL_TAIL_MAX", 0)
        assert labels() == expected


def _brute_close_pairs(codes: list[int], max_dist: int = 3) -> int:
    n = 0
    for i in range(len(codes)):
        for j in range(i + 1, len(codes)):
            if bin(codes[i] ^ codes[j]).count("1") <= max_dist:
                n += 1
    return n


@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "bb", "ccc", "dd", "e", "fff", "g"]),
            min_size=1,
            max_size=8,
        ).map(" ".join),
        min_size=2,
        max_size=20,
    ),
    bits=st.sampled_from([16, 64]),
)
def test_simhash_block_lsh_counts_exactly(spark, texts, bits):
    """The bit-block LSH join (value collapse + pigeonhole blocks +
    first-agreeing-block dedup + c_u*c_v weighting) must count EXACTLY the
    Hamming<=3 pairs a brute-force O(n^2) scan over the same codes finds."""
    from distributed_system_mapreduce_spark.operators.dedup import (
        _simhash_pack_sql,
        simhash_close_pairs,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    row = simhash_close_pairs(docs, bits=bits, n_blocks=4).collect()[0]
    codes = [
        r["simhash"]
        for r in docs.select(
            F.expr(_simhash_pack_sql(bits)).alias("simhash")
        ).collect()
    ]
    assert row["n_docs"] == len(texts)
    assert row["n_close_pairs"] == _brute_close_pairs(codes)


def test_property_caches_released(spark):
    """The randomized corpora above accumulate tracked caches (one per
    distinct plan); release them so this module leaves the session clean."""
    from distributed_system_mapreduce_spark import cache

    cache.clear_tracked_caches()
    assert cache.tracked_count() == 0


def _brute_triangles(edges: list[tuple[int, int]]) -> int:
    """Reference: enumerate all vertex triples over the adjacency set."""
    from itertools import combinations

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return sum(
        1
        for u, v, w in combinations(sorted(adj), 3)
        if v in adj[u] and w in adj[u] and w in adj[v]
    )


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    )
)
def test_triangle_count_matches_brute_force(spark, edges):
    """Degree-oriented adjacency intersection == brute-force triple
    enumeration on random graphs (self-loops dropped, duplicates merged)."""
    from distributed_system_mapreduce_spark.operators.graph import (
        _degrees,
        triangle_count_from_pairs,
    )

    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not canon:
        return
    pairs = spark.createDataFrame(canon, "src long, dst long")
    got = triangle_count_from_pairs(pairs, _degrees(pairs)).collect()[0][
        "n_triangles"
    ]
    assert got == _brute_triangles(canon), canon


@settings(**SETTINGS)
@given(
    series=st.lists(
        st.integers(0, 1000).map(float), min_size=1, max_size=50
    )
)
def test_ewma_fold_matches_reference(spark, series):
    """The aggregate-HOF fold == a plain-Python reference EWMA, element by
    element (exact: both run the identical double recurrence)."""
    from distributed_system_mapreduce_spark.operators.timewin import (
        EWMA_ALPHA,
        ewma_series,
    )

    a = float(EWMA_ALPHA)
    ref = []
    for x in series:
        ref.append(x if not ref else a * x + (1 - a) * ref[-1])
    got = (
        spark.range(1)
        .select(ewma_series(F.lit(series).cast("array<double>")).alias("e"))
        .collect()[0]["e"]
    )
    assert got == ref


def _brute_kcore(edges: list[tuple[int, int]], k: int) -> tuple[int, int]:
    """Reference: iterate 'drop vertices with degree < k' to fixpoint on an
    adjacency dict; returns (core nodes, core edges)."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    while True:
        weak = [v for v, ns in adj.items() if len(ns) < k]
        if not weak:
            break
        for v in weak:
            for n in adj[v]:
                adj[n].discard(v)
            del adj[v]
    n_edges = sum(len(ns) for ns in adj.values()) // 2
    return len(adj), n_edges


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(2, 4),
)
def test_kcore_peel_matches_brute_force(spark, monkeypatch, edges, k):
    """The distributed semi-join peel reaches the same fixpoint as a plain
    adjacency-dict peel on random graphs, for any k — the k-core is unique,
    so (core nodes, core edges) must agree exactly. ``cache.LOCAL_TAIL_MAX``
    0 keeps every round distributed until the core is empty (an empty
    generation is within any bound): these graphs all fit the default
    local tail, which would peel them in driver memory."""
    from distributed_system_mapreduce_spark import cache
    from distributed_system_mapreduce_spark.cache import release_checkpoint
    from distributed_system_mapreduce_spark.operators.graph import (
        _symmetric,
        kcore_peel,
    )

    monkeypatch.setattr(cache, "LOCAL_TAIL_MAX", 0)
    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not canon:
        return
    pairs = spark.createDataFrame(canon, "src long, dst long")
    core, n_dir_edges, _rounds = kcore_peel(_symmetric(pairs), k)
    if isinstance(core, list):
        assert core == []
        core_nodes = 0
    else:
        core_nodes = core.select("src").distinct().count()
        release_checkpoint(core)
    assert (core_nodes, n_dir_edges // 2) == _brute_kcore(canon, k), (canon, k)


def _py_winnow(text: str, k: int, w: int) -> set:
    """Reference: md5 each k-char gram truncated to the top-60-bit BIGINT
    (first 15 hex chars), min per w-gram window, distinct."""
    import hashlib

    n = max(len(text) - k + 1, 1)
    hs = [
        int(hashlib.md5(text[i : i + k].encode("utf-8")).hexdigest()[:15], 16)
        for i in range(n)
    ]
    return {
        min(hs[j : j + w]) for j in range(max(len(hs) - w + 1, 1))
    }


@settings(**SETTINGS)
@given(
    a=st.text(alphabet="abcd ", min_size=1, max_size=60),
    b=st.text(alphabet="abcd ", min_size=1, max_size=60),
    planted=st.text(alphabet="abcd ", min_size=15, max_size=25),
)
def test_winnow_fingerprints_match_reference_and_detect_overlap(
    spark, a, b, planted
):
    """The higher-order-function winnow selects EXACTLY the reference
    fingerprint set, and two docs sharing a planted substring of length
    >= W + K - 1 share at least one fingerprint (the Schleimer et al.
    detection guarantee)."""
    from distributed_system_mapreduce_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    t1, t2 = a + planted + a, b + planted + b
    docs = spark.createDataFrame(
        [(1, t1), (2, t2)], "doc_id long, text string"
    )
    got: dict[int, set] = {1: set(), 2: set()}
    for r in winnow_fingerprints(docs).collect():
        got[r["doc_id"]].add(r["fp"])
    assert got[1] == _py_winnow(t1, WINNOW_K, WINNOW_W)
    assert got[2] == _py_winnow(t2, WINNOW_K, WINNOW_W)
    assert len(planted) >= WINNOW_W + WINNOW_K - 1
    assert got[1] & got[2], (t1, t2)


@settings(**SETTINGS)
@given(
    n_cand=st.integers(min_value=0, max_value=8),
    k=st.integers(min_value=1, max_value=10),
    rels=st.lists(
        st.floats(min_value=-1, max_value=1, allow_nan=False, width=32),
        min_size=8,
        max_size=8,
    ),
    drop_pairs=st.booleans(),
)
def test_mmr_greedy_degenerate_pools(n_cand, k, rels, drop_pairs):
    """VERDICT r6 #3: the MMR greedy must survive (a) candidate pools
    smaller than k — return fewer ranks, never KeyError — and (b) missing
    pair-similarity rows — default 0.0, the oracle's left-join semantics.
    Also pins the invariants that hold regardless: ranks are 1..len,
    selections are distinct, and rank 1 is the max-relevance candidate
    (lowest id on ties)."""
    from distributed_system_mapreduce_spark.functions.retrieval import (
        mmr_greedy,
    )

    rel = {i + 1: round(rels[i], 4) for i in range(n_cand)}
    sims = (
        {}
        if drop_pairs
        else {
            (a, b): 0.5
            for a in rel
            for b in rel
            if a != b
        }
    )
    out = mmr_greedy(rel, sims, k, 0.7, 0.3)
    assert len(out) == min(k, n_cand)
    assert [r[0] for r in out] == list(range(1, len(out) + 1))
    ids = [r[1] for r in out]
    assert len(set(ids)) == len(ids)
    if out:
        best_rel = max(rel.values())
        expect_first = min(v for v, r in rel.items() if r == best_rel)
        assert ids[0] == expect_first


def _py_adamic_adar_capped(
    edges: list[tuple[int, int]], cap: int
) -> dict[tuple[int, int], tuple[int, float]]:
    """Reference: for each edge (u, v), count centers w whose cap-lowest-id
    neighbor list contains both u and v; weight by 1/ln(full degree of w)."""
    import math

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    capped = {v: sorted(ns)[:cap] for v, ns in adj.items()}
    out: dict[tuple[int, int], tuple[int, float]] = {}
    for w, nbrs in capped.items():
        for i in range(len(nbrs)):
            for j in range(i + 1, len(nbrs)):
                u, v = nbrs[i], nbrs[j]
                if v in adj.get(u, ()):  # only real edges are scored
                    n, s = out.get((u, v), (0, 0.0))
                    out[(u, v)] = (n + 1, s + 1.0 / math.log(len(adj[w])))
    return {k: (n, round(s, 4)) for k, (n, s) in out.items()}


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    ),
    cap=st.integers(2, 5),
)
def test_adamic_adar_capped_matches_brute_force(spark, edges, cap):
    """The map-side wedge generation over the capped sorted adjacency ==
    a plain adjacency-dict reference on random graphs, for any cap — the
    capped neighbor choice (lowest ids) is deterministic, so (n_common,
    aa) must agree exactly per scored edge."""
    from distributed_system_mapreduce_spark.operators.graph import (
        adamic_adar_capped_scores,
    )

    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not canon:
        return
    pairs = spark.createDataFrame(canon, "src long, dst long")
    got = {
        (r["src"], r["dst"]): (r["n_common"], r["aa"])
        for r in adamic_adar_capped_scores(pairs, cap).collect()
    }
    assert got == _py_adamic_adar_capped(canon, cap), (canon, cap)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_characters=["\x00"]
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_md5_expansion_oracle_arithmetic_on_arbitrary_text(spark, texts):
    """The r13 multimodal oracle's md5-hex-expansion arithmetic (digest
    bytes tiled to max(len, 16), full-tile multiple + partial prefix) must
    reproduce decode_bytes(fake=True) byte sums for ARBITRARY text —
    unicode, spaces, empties — not just the fixture corpus: this pins the
    octet_length(encode(text)) ⟺ len(text.encode()) equivalence and the
    tiling algebra on both engines."""
    import duckdb
    import hashlib

    import numpy as np

    con = duckdb.connect()
    con.execute(
        "create table t(doc_id bigint, text varchar)"
    )
    con.executemany(
        "insert into t values (?, ?)", list(enumerate(texts))
    )
    rows = con.execute(
        """
        with m as (
          select doc_id, md5(text) as h,
                 greatest(octet_length(encode(text)), 16) as n
          from t),
        v as (
          select m.doc_id, m.n, g.i,
                 (strpos('0123456789abcdef', substr(m.h, 2*g.i-1, 1)) - 1)
                   * 16
                 + (strpos('0123456789abcdef', substr(m.h, 2*g.i, 1)) - 1)
                   as byte
          from m cross join generate_series(1, 16) as g(i))
        select doc_id,
               sum(byte) * (n // 16)
                 + sum(case when i <= n % 16 then byte else 0 end) as bsum,
               sum(byte * byte) * (n // 16)
                 + sum(case when i <= n % 16 then byte * byte else 0 end)
                 as bsq
        from v group by doc_id, n order by doc_id
        """
    ).fetchall()
    for (doc_id, bsum, bsq), text in zip(rows, texts):
        data = text.encode()
        seed = hashlib.md5(data).digest()
        n = max(len(data), 16)
        buf = np.frombuffer(
            (seed * (-(-n // len(seed))))[:n], dtype=np.uint8
        ).astype(np.int64)
        assert (int(bsum), int(bsq)) == (
            int(buf.sum()),
            int((buf**2).sum()),
        ), (doc_id, text)


@settings(**SETTINGS)
@given(
    series=st.lists(st.integers(0, 50), min_size=2, max_size=30),
)
def test_changepoint_split_matches_brute_force(spark, series):
    """The windowed CUSUM argmax == a plain-Python scan with the same
    double formula and earliest-t tiebreak, on random integer series."""
    from distributed_system_mapreduce_spark.operators.timewin import (
        changepoint_split,
    )

    rows = [(i * 3600, v) for i, v in enumerate(series)]
    filled = spark.createDataFrame(rows, "hour_epoch long, x long")
    got = changepoint_split(filled).collect()[0]

    n = len(series)
    stot = sum(series)
    best_t, best_g = None, None
    s = 0
    for t in range(1, n):
        s += series[t - 1]
        g = (float(n) * s - float(t) * stot) ** 2 / (float(t) * (n - t))
        if best_g is None or g > best_g:
            best_t, best_g = t, g
    assert got["t"] == best_t, (series, got["t"], best_t)
    assert got["gstat"] == best_g


@settings(**SETTINGS)
@given(
    groups=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100)),
        min_size=1,
        max_size=40,
    ),
)
def test_grouped_lower_median_matches_sorted_pick(spark, groups):
    """grouped_lower_median == sorted(vals)[(n-1)//2] per group."""
    from distributed_system_mapreduce_spark.operators.timewin import (
        grouped_lower_median,
    )

    rows = [(f"g{g}", i, v) for i, (g, v) in enumerate(groups)]
    df = spark.createDataFrame(rows, "event_type string, hour_epoch long, cnt long")
    got = {
        r["event_type"]: r["med"]
        for r in grouped_lower_median(df, "cnt", "med").collect()
    }
    expect = {}
    for g, v in groups:
        expect.setdefault(f"g{g}", []).append(v)
    for k, vals in expect.items():
        assert got[k] == sorted(vals)[(len(vals) - 1) // 2], (k, vals)


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 10)),
        min_size=1,
        max_size=30,
    )
)
def test_clustering_coeff_matches_brute_force(spark, edges):
    """Instance-credited local/global clustering coefficients == brute
    force over random graphs (same 9 dp local quantization)."""
    from decimal import Decimal

    from distributed_system_mapreduce_spark.operators.graph import (
        _degrees,
        clustering_from_pairs,
    )

    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not canon:
        return
    pairs = spark.createDataFrame(canon, "src long, dst long")
    got = clustering_from_pairs(pairs, _degrees(pairs)).collect()[0]

    adj = {}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri_v = {v: 0 for v in adj}
    n_tri = 0
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for b in adj[a]:
            if b <= a:
                continue
            for c in adj[a] & adj[b]:
                if c > b:
                    n_tri += 1
                    tri_v[a] += 1
                    tri_v[b] += 1
                    tri_v[c] += 1
    wedges = sum(len(ns) * (len(ns) - 1) // 2 for ns in adj.values())
    assert got["n_triangles"] == n_tri
    assert got["n_wedges"] == wedges
    if wedges:
        assert got["global_cc"] == round(3.0 * n_tri / wedges, 6)
    else:
        assert got["global_cc"] == 0.0
    eligible = [v for v in adj if len(adj[v]) >= 2]
    if not eligible:
        assert got["avg_local_cc"] == 0.0
    if eligible:
        acc = sum(
            Decimal(
                str(round(tri_v[v] * 2.0 / (len(adj[v]) * (len(adj[v]) - 1)), 9))
            )
            for v in eligible
        )
        assert got["avg_local_cc"] == round(float(acc) / len(eligible), 6)


def test_logreg_weights_match_python_reference(spark):
    """The distributed GD loop == a plain-Python reference fold over the
    collected features (exact equality — both quantize identically)."""
    from distributed_system_mapreduce_spark.operators.curation import (
        LOGREG_LR,
        LOGREG_STEPS,
        _logreg_features,
        logreg_weights,
    )

    sf = "/root/testdata/sf0.001"
    rows = _logreg_features(spark, sf).collect()
    beta = [0.0, 0.0, 0.0]

    def sig(z):
        return 0.5 + z / (2 * (1 + abs(z)))

    from decimal import Decimal

    for _ in range(LOGREG_STEPS):
        g = [Decimal(0)] * 3
        for r in rows:
            resid = sig(beta[0] + beta[1] * r.x1 + beta[2] * r.x2) - r.y
            for j, xj in enumerate((1.0, r.x1, r.x2)):
                g[j] += Decimal(str(round(resid * xj, 9)))
        n = len(rows)
        beta = [
            round(beta[j] - LOGREG_LR * (float(g[j]) / n), 9)
            for j in range(3)
        ]
    assert logreg_weights(spark, sf) == beta


@settings(**SETTINGS)
@given(
    series=st.lists(
        st.integers(0, 1000).map(float), min_size=2, max_size=50
    )
)
def test_holt_fold_matches_reference(spark, series):
    """The struct-accumulator Holt fold == a plain-Python reference
    recurrence, bit-for-bit (identical IEEE expression order)."""
    from distributed_system_mapreduce_spark.operators.timewin import (
        HOLT_ALPHA,
        HOLT_BETA,
        holt_state,
    )

    df = spark.createDataFrame([(series,)], "vals array<double>")
    got = df.select(holt_state(F.col("vals")).alias("st")).collect()[0]["st"]

    a, b_ = float(HOLT_ALPHA), float(HOLT_BETA)
    l, b = series[1], series[1] - series[0]
    sse = 0.0
    for x in series[2:]:
        lp = a * x + (1 - a) * (l + b)
        bp = b_ * (lp - l) + (1 - b_) * b
        sse = sse + (x - (l + b)) * (x - (l + b))
        l, b = lp, bp
    assert got["l"] == l and got["b"] == b and got["sse"] == sse


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    ),
    cap=st.integers(2, 5),
)
def test_clustering_capped_matches_brute_force(spark, edges, cap):
    """Capped clustering coefficients == a plain truncated-adjacency
    reference on random graphs, for any cap: closed wedges counted
    through each center's cap-lowest-id neighbors, capacity
    C(min(deg, cap), 2), same 9 dp local quantization as the exact
    twin."""
    from decimal import Decimal

    from distributed_system_mapreduce_spark.operators.graph import (
        _degrees,
        clustering_capped_from_pairs,
    )

    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not canon:
        return
    pairs = spark.createDataFrame(canon, "src long, dst long")
    got = clustering_capped_from_pairs(
        pairs, _degrees(pairs), cap
    ).collect()[0]

    adj: dict[int, set[int]] = {}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    capped = {v: sorted(ns)[:cap] for v, ns in adj.items()}
    t_w = {v: 0 for v in adj}
    for w, nbrs in capped.items():
        for i in range(len(nbrs)):
            for j in range(i + 1, len(nbrs)):
                if nbrs[j] in adj.get(nbrs[i], ()):
                    t_w[w] += 1
    cd = {v: min(len(adj[v]), cap) for v in adj}
    capacity = sum(c * (c - 1) // 2 for c in cd.values())
    n_closed = sum(t_w.values())
    assert got["n_closed_wedges"] == n_closed
    assert got["n_wedges"] == capacity
    if capacity:
        assert got["global_cc"] == round(n_closed / capacity, 6)
    else:
        assert got["global_cc"] == 0.0
    eligible = [v for v in adj if cd[v] >= 2]
    if not eligible:
        assert got["avg_local_cc"] == 0.0
    else:
        acc = sum(
            Decimal(str(round(t_w[v] * 2.0 / (cd[v] * (cd[v] - 1)), 9)))
            for v in eligible
        )
        assert got["avg_local_cc"] == round(float(acc) / len(eligible), 6)


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 10)),
        min_size=1,
        max_size=30,
    ),
    rounds=st.integers(1, 3),
)
def test_lpa_labels_match_python_reference(spark, edges, rounds):
    """Synchronous label propagation (max-count, min-label tie rule) ==
    a plain-Python sync LPA on random graphs for any round count — the
    unrolled declarative plan's per-round argmax must be the exact
    deterministic rule, or community assignments drift between engines."""
    from collections import Counter

    from distributed_system_mapreduce_spark.operators.graph import (
        _symmetric,
        lpa_labels,
    )

    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not canon:
        return
    pairs = spark.createDataFrame(canon, "src long, dst long")
    got = {
        r["id"]: r["lbl"]
        for r in lpa_labels(_symmetric(pairs), rounds).collect()
    }

    adj: dict[int, list[int]] = {}
    for a, b in canon:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    lbl = {v: v for v in adj}
    for _ in range(rounds):
        nxt = {}
        for v, ns in adj.items():
            cnt = Counter(lbl[n] for n in ns)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[v] = best[0]
        lbl = nxt
    assert got == lbl, (canon, rounds)


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 11)),
        min_size=1,
        max_size=40,
    )
)
def test_basket_pair_support_counts_distinct_orders(spark, rows):
    """r15 regression guard for the sweep-caught support inflation:
    support must count DISTINCT orders containing both parts — duplicate
    (order, part) rows (TPC-H orders can list a part on several lines)
    must count once, never as extra row-pairs."""
    from collections import Counter
    from itertools import combinations

    from distributed_system_mapreduce_spark.operators.graph import (
        basket_pair_support,
    )

    expected = Counter()
    baskets: dict[int, set[int]] = {}
    for o, p in rows:
        baskets.setdefault(o, set()).add(p)
    for parts in baskets.values():
        for a, b in combinations(sorted(parts), 2):
            expected[(a, b)] += 1

    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {
        (r["src"], r["dst"]): r["support"]
        for r in basket_pair_support(df).collect()
    }
    assert got == dict(expected), (sorted(rows), got)
