"""Property-based tests (hypothesis) for the custom operators whose
correctness doesn't reduce to a single SQL oracle: randomized inputs checked
against independent pure-Python ground truth. This is the adversarial layer
on top of the fixed-fixture oracle parity — it probes graph shapes, band
configurations, and size distributions the synthetic corpus never hits.

Spark actions are expensive per hypothesis example, so each property batches
the randomized structure into ONE DataFrame round-trip and keeps example
counts small; the properties target structure (chains, cliques, edge cases),
not statistical volume.
"""

from __future__ import annotations

import hashlib

import pytest

import os

_FULL_SUITE = os.environ.get("SPARK_GRAFT_FULL_PARITY", "") == "1"
_HEAVY_SWEEP = pytest.mark.skipif(
    not _FULL_SUITE,
    reason="whole-registry/integration sweep — runs with SPARK_GRAFT_FULL_PARITY=1 "
    "(cross-round guard, not a per-commit gate; see OPTIMIZATION_r14.md task #4)",
)
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from hive_backend_spark.operators import dedup as D

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


# --- connected components vs pure-Python union-find ------------------------


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # label = min node id in component
    labels: dict[int, int] = {}
    for n in parent:
        r = find(n)
        labels[n] = min(labels.get(r, r), r)
    # second pass: min label per root (roots are already minimal under the
    # min-merge above, but make it explicit)
    roots: dict[int, int] = {}
    for n in parent:
        r = find(n)
        roots[r] = min(roots.get(r, n), n)
    return {n: roots[find(n)] for n in parent}


def _labels_on_both_paths(df, **kw) -> dict[str, set]:
    """{path: {(node, label)}} from the union-find pass (the default bound)
    and from the star contraction (bound 0)."""
    out = {}
    for path, bound in (("union_find", D.LOCAL_CC_MAX_EDGES), ("star", 0)):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(D, "LOCAL_CC_MAX_EDGES", bound)
            out[path] = {tuple(r) for r in D.connected_components(df, **kw).collect()}
    return out


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=60,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Both labelling paths must agree with union-find on arbitrary graphs:
    chains, cliques, self-loops, duplicate and reversed edges. Every graph
    goes through the single-worker union-find pass (the default bound) and
    through the large-star/small-star contraction (bound 0). max_iter=12 is
    far under the worst-case DIAMETER (41 nodes) that the retired min-label
    propagation needed — the star contraction's O(log n) round bound is
    what makes this budget safe."""
    df = spark.createDataFrame(edges, "src long, dst long")
    want = set(_union_find_components(edges).items())
    assert _labels_on_both_paths(df, max_iter=12) == {"union_find": want, "star": want}


def test_connected_components_raises_without_convergence(spark, monkeypatch):
    """A long chain must raise (not silently return partial labels) when
    max_iter is below the star contraction's rounds. The chain is far under
    the union-find bound, so the bound is set to 0 to force the star
    contraction — the only path with a round budget."""
    monkeypatch.setattr(D, "LOCAL_CC_MAX_EDGES", 0)
    chain = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(chain, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(df, max_iter=2)


def test_connected_components_null_endpoint_same_on_both_paths(spark):
    """An edge with a NULL endpoint contributes its other endpoint as a
    node and one (NULL, NULL) row; the union-find path must return what
    the star contraction's outer join returns."""
    df = spark.createDataFrame([(1, 2), (3, None), (None, None)], "src long, dst long")
    want = {(1, 1), (2, 1), (3, 3), (None, None)}
    assert _labels_on_both_paths(df) == {"union_find": want, "star": want}


# --- minhash band digests: column form vs Arrow UDF form -------------------


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab cd"),  # tiny vocab -> shared shingles
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    ),
    bands=st.sampled_from([1, 2, 4, 8]),
)
def test_band_digests_column_vs_udf(spark, texts, bands):
    """The pure-column minhash/banding pipeline and the vectorized Arrow UDF
    must produce byte-identical band digests for EVERY (bands, rows)
    configuration — including rows==1, where a band is a single signature
    entry (the digest must still be md5'd, not passed through raw)."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    col_form = df.select(
        "id",
        D.lsh_band_sigs(
            D.minhash_signature(D.shingles(F.col("text"))), bands=bands, rows=D.N_HASHES // bands
        ).alias("b"),
    )
    udf_form = df.select(
        "id",
        D.minhash_bands_udf(bands=bands)(D.shingles_udf()(F.col("text"))).alias("b"),
    )
    got_c = {r["id"]: r["b"] for r in col_form.collect()}
    got_u = {r["id"]: r["b"] for r in udf_form.collect()}
    assert got_c == got_u


# --- hamming distance vs Python popcount -----------------------------------


@settings(**_SETTINGS)
@given(
    pairs=st.lists(
        st.tuples(
            st.text(alphabet="01", min_size=64, max_size=64),
            st.text(alphabet="01", min_size=64, max_size=64),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_hamming_bits_matches_python(spark, pairs):
    df = spark.createDataFrame(pairs, "a string, b string")
    got = [
        r["h"]
        for r in df.select(D.hamming_bits(F.col("a"), F.col("b")).alias("h")).collect()
    ]
    want = [sum(x != y for x, y in zip(a, b)) for a, b in pairs]
    assert got == want


# --- shingles: column form vs UDF form vs Python ---------------------------


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from("xy z\t\n"), min_size=0, max_size=50),
        min_size=1,
        max_size=8,
    )
)
def test_shingles_column_vs_udf_vs_python(spark, texts):
    """Column-expression shingles, Arrow-UDF shingles, and a direct Python
    reimplementation must agree on arbitrary whitespace mess — empty texts,
    leading/trailing/mixed whitespace, docs shorter than n."""
    import re

    def py_shingles(text: str, n: int = 3) -> list[str]:
        # strip(" ") = SQL trim semantics (spaces only), the canonical
        # tokenization every engine-side form mirrors
        toks = re.split(r"\s+", text.strip(" "))
        if len(toks) < n:
            return []
        return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    col_form = {r["id"]: r["s"] for r in df.select("id", D.shingles(F.col("text")).alias("s")).collect()}
    udf_form = {r["id"]: r["s"] for r in df.select("id", D.shingles_udf()(F.col("text")).alias("s")).collect()}
    want = {i: py_shingles(t) for i, t in enumerate(texts)}
    assert col_form == want
    assert udf_form == want


# --- two-level prefix sum (sequence packing) vs sequential scan ------------


@settings(**_SETTINGS)
@given(
    sizes=st.lists(st.integers(1, 700), min_size=1, max_size=40),
    budget=st.sampled_from([64, 512, 1000]),
)
def test_two_level_prefix_sum_matches_sequential(spark, sizes, budget):
    """The distributed two-level prefix sum used by q107 must reproduce the
    exact sequential token-stream layout for any size distribution,
    including docs larger than the bin budget (they split across bins)."""
    from pyspark.sql import Window

    rows = [(i, n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long").withColumn(
        "bucket", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    )
    w_local = (
        Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    )
    local = df.withColumn("local_start", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0)))
    totals = df.groupBy("bucket").agg(F.sum("n_tokens").alias("tot"))
    w_bucket = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bucket", F.coalesce(F.sum("tot").over(w_bucket), F.lit(0)).alias("bucket_offset")
    )
    got = {
        r["doc_id"]: (r["bucket_offset"] + r["local_start"]) // budget
        for r in local.join(F.broadcast(offsets), "bucket").collect()
    }

    order = sorted(
        rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest()[:2], r[0])
    )
    start, want = 0, {}
    for doc_id, n in order:
        want[doc_id] = start // budget
        start += n
    assert got == want


# --- winnowing guarantee vs pure-Python selection ---------------------------


def _py_winnow(tokens: list[str], gram: int = 5, w: int = 4) -> set[str]:
    if len(tokens) < gram:
        return set()
    hs = [
        hashlib.md5(" ".join(tokens[i : i + gram]).encode()).hexdigest()
        for i in range(len(tokens) - gram + 1)
    ]
    n_windows = max(len(hs) - w + 1, 1)
    return {min(hs[i : i + w]) for i in range(n_windows)}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_winnowing_shared_run_guarantee_and_parity(spark, seed):
    """Two properties of q131's selection: (1) engine output == pure-Python
    winnowing per doc; (2) the MOSS guarantee — two docs sharing a token
    run of >= gram + w - 1 = 8 tokens share at least one fingerprint."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    shared_run = [rng.choice(vocab) for _ in range(10)]  # > 8-token shared run
    docs = []
    for d in range(6):
        left = [rng.choice(vocab) for _ in range(rng.randint(0, 15))]
        right = [rng.choice(vocab) for _ in range(rng.randint(0, 15))]
        docs.append((d, " ".join(left + shared_run + right)))
    # same expression chain q131 uses, over this adversarial tiny corpus
    src = spark.createDataFrame(docs, "doc_id long, text string")
    d = (
        src.withColumn("toks", F.split(F.trim(F.col("text")), r"\s+"))
        .withColumn("n", F.size("toks"))
        .withColumn(
            "h",
            F.expr(
                "CASE WHEN n >= 5 THEN transform(sequence(0, n - 5),"
                " i -> md5(array_join(slice(toks, i+1, 5), ' '))) END"
            ),
        )
        .withColumn(
            "fps",
            F.expr(
                "CASE WHEN h IS NOT NULL THEN array_sort(array_distinct("
                "transform(sequence(0, greatest(size(h) - 4, 0),  1),"
                " i -> array_min(slice(h, i+1, 4))))) END"
            ),
        )
        .select("doc_id", "fps")
        .collect()
    )
    got = {r["doc_id"]: set(r["fps"] or []) for r in d}
    want = {i: _py_winnow(t.split()) for i, t in docs}
    assert got == want
    fp_sets = list(got.values())
    for i in range(len(fp_sets)):
        for j in range(i + 1, len(fp_sets)):
            assert fp_sets[i] & fp_sets[j], (
                f"docs {i},{j} share a 10-token run but no fingerprint"
            )


# --- SCD2 interval invariants ----------------------------------------------


def test_scd2_intervals_partition_timeline(spark, sf_dir):
    """q129 invariants per entity: exactly one open (is_current) interval;
    versions are 1..n contiguous; each interval's valid_to equals the next
    interval's valid_from (no gaps, no overlaps)."""
    from hive_backend_spark.registry import all_queries

    rows = all_queries()["q129_scd2_intervals"].fn(spark, sf_dir).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in ivs] == list(range(1, len(ivs) + 1)), user
        assert sum(1 for r in ivs if r["is_current"]) == 1, user
        assert ivs[-1]["is_current"] and ivs[-1]["valid_to"] is None, user
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"], user


# --- Misra-Gries sketch guarantees ------------------------------------------


@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=400),
    st.integers(min_value=2, max_value=8),
)
@settings(max_examples=60, deadline=None)
def test_mg_compress_preserves_heavy_hitters(xs, capacity):
    """Pure-python MG invariants (no Spark): after feeding a stream through
    repeated Counter-merge + compress, (a) at most `capacity` counters
    survive, (b) every surviving counter is a lower bound on the true
    count, (c) any term with true count > n/capacity survives — the
    pigeonhole guarantee q163's candidate superset rests on."""
    from collections import Counter

    from hive_backend_spark.operators.sketch import _mg_compress

    acc: Counter = Counter()
    # feed in chunks to exercise repeated merge+compress
    for i in range(0, len(xs), 32):
        acc.update(Counter(str(x) for x in xs[i : i + 32]))
        _mg_compress(acc, capacity)
    true = Counter(str(x) for x in xs)
    assert len(acc) <= capacity
    for t, c in acc.items():
        assert c <= true[t]
    n = len(xs)
    for t, c in true.items():
        if c * capacity > n:
            assert t in acc, (t, c, n, capacity, dict(acc))


def test_mg_spark_candidates_superset(spark):
    """End-to-end on a skewed fixture with capacity far below the distinct
    count: the union of per-partition summaries still contains every
    provable heavy hitter, under whatever partitioning Spark picked."""
    from collections import Counter

    from hive_backend_spark.operators.sketch import misra_gries_terms

    rows = [("hh",)] * 300 + [("mid",)] * 60 + [(f"t{i}",) for i in range(200)]
    df = spark.createDataFrame(rows, "term string").repartition(7)
    cand = {r["term"] for r in misra_gries_terms(df, 8).collect()}
    true = Counter(t for (t,) in rows)
    n = len(rows)
    for t, c in true.items():
        if c * 8 > n:
            assert t in cand, (t, c)


# --- waterfilling closed form vs iterative simulation ------------------------


@given(
    st.lists(st.integers(min_value=1, max_value=10_000), min_size=1, max_size=40),
    st.floats(min_value=0.05, max_value=0.95),
)
@settings(max_examples=80, deadline=None)
def test_waterfill_closed_form_matches_simulation(avails, frac):
    """q167's segment-search water level against a reference bisection:
    the closed form must satisfy sum(min(a_i, theta)) == B to float
    precision, allocate every uncapped source exactly its availability,
    and never exceed any availability."""
    total = sum(avails)
    budget = frac * total
    n = len(avails)
    # closed form exactly as the query computes it
    srt = sorted(avails)
    cum = 0.0
    theta = None
    prev = 0.0
    for k, a in enumerate(srt, start=1):
        t = (budget - cum) / (n - k + 1)
        if prev < t <= a:
            theta = t if theta is None else min(theta, t)
        cum += a
        prev = a
    assert theta is not None, (avails, frac)
    # reference: bisection on the monotone residual
    lo, hi = 0.0, float(max(avails))
    for _ in range(200):
        mid = (lo + hi) / 2
        if sum(min(a, mid) for a in avails) < budget:
            lo = mid
        else:
            hi = mid
    assert abs(theta - hi) < 1e-6 * max(1.0, hi), (theta, hi)
    assert abs(sum(min(a, theta) for a in avails) - budget) < 1e-6 * total


# --- one-pass second moments vs direct numpy ---------------------------------


def test_second_moments_match_direct_numpy(spark):
    """operators/linalg.second_moments: the distributed Gram/mean fold over
    an awkwardly-partitioned vector table must equal the direct numpy
    computation on the collected matrix (same population-covariance
    formula) to float-sum tolerance."""
    import numpy as np

    from hive_backend_spark.operators.linalg import second_moments

    rng_rows = [
        (i, [float(((i * 31 + j * 17) % 97) - 48) / 7.0 for j in range(8)])
        for i in range(123)
    ]
    df = spark.createDataFrame(rng_rows, "id bigint, v array<double>").repartition(7)
    n, mu, cov = second_moments(df, "v", 8)
    m = np.array([v for _, v in rng_rows])
    assert n == 123
    np.testing.assert_allclose(mu, m.mean(axis=0), rtol=0, atol=1e-12)
    direct = (m.T @ m) / len(m) - np.outer(m.mean(axis=0), m.mean(axis=0))
    np.testing.assert_allclose(cov, direct, rtol=0, atol=1e-10)


def test_second_moments_empty_input_raises(spark):
    """A zero-row vector table must fail loudly (ValueError), not crash
    with an opaque TypeError on the NULL aggregate or emit NaNs."""
    import pytest as _pytest

    from hive_backend_spark.operators.linalg import second_moments

    df = spark.createDataFrame([], "id bigint, v array<double>")
    with _pytest.raises(ValueError, match="no vectors"):
        second_moments(df, "v", 8)


# --- Bloom filter guarantees -------------------------------------------------


def test_bloom_no_false_negatives_and_fpr(spark):
    """operators/bloom: every inserted key probes True (structural
    guarantee), and the false-positive rate on disjoint keys stays within
    3x the configured target (generous vs sampling noise)."""
    from hive_backend_spark.operators.bloom import (
        build_bloom,
        optimal_params,
        probe_bloom,
    )

    members = [(f"key_{i}",) for i in range(2000)]
    others = [(f"other_{i}",) for i in range(4000)]
    mdf = spark.createDataFrame(members, "gram string").repartition(5)
    odf = spark.createDataFrame(others, "gram string").repartition(5)
    m_bits, k = optimal_params(len(members), 0.01)
    bm = build_bloom(mdf, "gram", m_bits, k)

    got = probe_bloom(mdf, "gram", bm, m_bits, k).collect()
    assert all(r["bloom_hit"] for r in got), "false negative — structurally impossible"

    fp = sum(1 for r in probe_bloom(odf, "gram", bm, m_bits, k).collect() if r["bloom_hit"])
    assert fp / len(others) <= 0.03, f"FPR {fp / len(others):.4f} >> target 0.01"


def test_bloom_probe_reuses_one_broadcast_per_bitmap(spark):
    """A long-lived session probing the same filter repeatedly must hold
    ONE broadcast of the bitmap, not one per probe call (each broadcast
    pins up to MAX_M_BITS of block-manager memory); dropping the bitmap
    must evict and unpersist the cached variable via its finalizer."""
    import gc

    import numpy as np

    from hive_backend_spark.operators import bloom as B

    mdf = spark.createDataFrame([(f"k{i}",) for i in range(100)], "gram string")
    m_bits, k = B.optimal_params(100, 0.01)
    bm = B.build_bloom(mdf, "gram", m_bits, k)
    key = id(bm)
    before = len(B._BITMAP_BROADCASTS)
    for _ in range(3):
        assert B.probe_bloom(mdf, "gram", bm, m_bits, k).count() == 100
    assert len(B._BITMAP_BROADCASTS) == before + 1
    assert key in B._BITMAP_BROADCASTS

    other = np.array(bm)  # distinct object -> its own broadcast entry
    B.probe_bloom(mdf, "gram", other, m_bits, k).count()
    assert len(B._BITMAP_BROADCASTS) == before + 2

    del bm, other
    gc.collect()
    assert key not in B._BITMAP_BROADCASTS
    assert len(B._BITMAP_BROADCASTS) == before


# --- skyline sweep vs quadratic dominance definition -------------------------


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=80, deadline=None)
def test_skyline_sweep_matches_dominance_definition(points):
    """q193's O(n log n) sort-sweep against the O(n^2) NOT EXISTS
    definition on randomized (quality, length) grids — including ties and
    duplicate points (mutually non-dominating, all survive)."""
    import pandas as pd

    from hive_backend_spark.queries.text import _pareto_skyline_pdf

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(points)),
            "q": [float(p[0]) for p in points],
            "l": [p[1] for p in points],
        }
    )
    got = set(_pareto_skyline_pdf(pdf)["doc_id"])
    want = set()
    for i, (qi, li) in enumerate(points):
        dominated = any(
            (qj >= qi and lj <= li and (qj > qi or lj < li))
            for j, (qj, lj) in enumerate(points)
            if j != i
        )
        if not dominated:
            want.add(i)
    assert got == want, (points, got, want)


# --- MinHash signature mergeability ------------------------------------------


@given(
    st.lists(st.text(alphabet="abcdef ", min_size=1, max_size=12), min_size=1, max_size=30),
    st.lists(st.text(alphabet="abcdef ", min_size=1, max_size=12), min_size=1, max_size=30),
)
@settings(max_examples=60, deadline=None)
def test_minhash_signature_is_mergeable(sa, sb):
    """MinHash signatures are mergeable summaries: the signature of a
    shingle-set UNION equals the elementwise MIN of the parts' signatures
    — the property that lets a persisted signature table absorb appended
    content per key (update = min-merge) without re-reading old text,
    and the foundation q173's incremental index maintenance stands on.
    Checked against the library's exact hash recipe (md5 of 'seed|s')."""
    import hashlib

    from hive_backend_spark.operators.dedup import N_HASHES

    def sig(shingles):
        return [
            min(hashlib.md5(f"{seed}|{s}".encode()).hexdigest() for s in shingles)
            for seed in range(N_HASHES)
        ]

    merged = [min(a, b) for a, b in zip(sig(sa), sig(sb))]
    assert merged == sig(list(set(sa) | set(sb)))


# --- exact-dup pre-collapse bounds LSH candidate generation ------------------


def test_lsh_flood_collapses_to_distinct_squared(spark):
    """A corpus with K byte-identical copies of one text must generate
    candidate pairs from O(distinct^2) self-join work, not O(K^2): the
    fingerprint-level pair table is bounded by C(n_distinct, 2), while the
    doc-level OUTPUT (which is genuinely quadratic for a flood) still
    contains the full K-clique with all bands agreeing — byte-identical to
    the naive per-document band self-join."""
    K = 40
    flood = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, flood) for i in range(K)]
    rows += [
        (1000, "alpha beta gamma delta epsilon zeta eta theta kappa"),
        (1001, "alpha beta gamma delta epsilon zeta eta theta mu"),
        (1002, "completely different content with many unique words present here"),
        (1003, "xy"),  # < 3 tokens: no shingles, NULL bands, never a candidate
        (1004, "xy"),  # identical to 1003 — still must NOT cluster (no band identity)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    members, reps = D.collapse_exact(df, "doc_id")
    n_distinct = reps.count()
    assert n_distinct == 5
    fpb = D.explode_bands(reps, "fp", id_type="string")
    fp_pairs = D.fp_candidate_pairs(fpb)
    # the flood never reaches the self-join: pair table bounded by distinct^2
    assert fp_pairs.count() <= n_distinct * (n_distinct - 1) // 2

    got = D.lsh_candidate_pairs(df, "doc_id")
    # the K-clique is present in the OUTPUT with every band agreeing
    in_flood = got.filter((F.col("doc_a") < K) & (F.col("doc_b") < K))
    assert in_flood.count() == K * (K - 1) // 2
    assert in_flood.agg(F.min("n_shared_bands")).first()[0] == D.N_BANDS
    # gram-less identical docs never become candidates
    assert got.filter(F.col("doc_a") >= 1003).count() == 0

    # byte-identical to the naive per-document band self-join
    bands = D.explode_bands(df, "doc_id")
    a, b = bands.alias("a"), bands.alias("b")
    naive = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    assert got.exceptAll(naive).count() == 0
    assert naive.exceptAll(got).count() == 0


@_HEAVY_SWEEP
def test_near_clone_flood_bounded_by_bucket_cap(spark):
    """NEAR-identical (not byte-identical) template floods: K variants of
    one boilerplate text are K DISTINCT fingerprints, so the exact-dup
    collapse cannot absorb them and they land together in the LSH buckets.
    The per-bucket ceiling must (1) exclude over-populated buckets from
    pair generation — output bounded by the surviving buckets' own pair
    budget, never C(K, 2) — and (2) surface every dropped bucket with its
    population in the overpopulated_buckets report. At the default cap the
    same input is untouched (the oracle-unchanged guarantee) and the
    report is empty."""
    K, CAP = 30, 8
    base = "the quick brown fox jumps over the lazy dog again and again token"
    rows = [(i, f"{base} variant{i}") for i in range(K)]
    rows += [
        (1000, "alpha beta gamma delta epsilon zeta eta theta kappa"),
        (1001, "alpha beta gamma delta epsilon zeta eta theta mu"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    _members, reps = D.collapse_exact(df, "doc_id")
    assert reps.count() == K + 2  # near-clones do NOT collapse
    fpb = D.explode_bands(reps, "fp", id_type="string")

    # the flood really does concentrate: at least one bucket over the cap
    report = D.overpopulated_buckets(fpb, CAP)
    dropped = {(r["band_idx"], r["band_sig"]): r["n_fps"] for r in report.collect()}
    assert dropped and max(dropped.values()) > CAP

    # level-1 pair output <= the surviving buckets' own pair budget
    census = (
        fpb.filter(F.col("band_sig").isNotNull())
        .groupBy("band_idx", "band_sig")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    budget = sum(r["n"] * (r["n"] - 1) // 2 for r in census if r["n"] <= CAP)
    capped = D.fp_candidate_pairs(fpb, bucket_cap=CAP, escalate=False)
    n_capped = capped.count()
    assert n_capped <= budget < K * (K - 1) // 2

    # a fully-agreeing flood cannot split at double band width either: the
    # escalated pass withholds it too (residual census non-empty) and the
    # escalated output stays inside the same budget plus the residual-free
    # fused buckets' own pair budget — never C(K, 2)
    assert D.residual_overpopulated_buckets(fpb, CAP).count() > 0
    n_escalated = D.fp_candidate_pairs(fpb, bucket_cap=CAP).count()
    assert n_escalated < K * (K - 1) // 2

    # default cap: report empty, pairs identical to the uncapped self-join
    assert D.overpopulated_buckets(fpb).count() == 0
    a, b = fpb.alias("a"), fpb.alias("b")
    naive = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.fp") < F.col("b.fp")),
        )
        .groupBy(F.col("a.fp").alias("fp_a"), F.col("b.fp").alias("fp_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    got = D.fp_candidate_pairs(fpb)
    assert got.exceptAll(naive).count() == 0
    assert naive.exceptAll(got).count() == 0


# Magic shingles for the escalation-recovery fixture: token triples whose
# 3-gram shingle hashes (md5(f"{seed}|{shingle}")) carry a "00" prefix under
# exactly the named seeds — so a document containing the triple takes that
# hash as its MinHash min for those seeds (all other shingles hash >= "4"
# first-nibble with overwhelming probability, verified by the structural
# asserts below). M0 wins seeds {0,1} (band 0); M1 wins seeds {2,3}
# (band 1). Found by deterministic search; md5 is stable, so the fixture's
# bucket structure is frozen forever.
_M0 = "am727432 bm727432 cm727432"
_M1 = "dm1239447 em1239447 fm1239447"


def _escalation_fixture():
    """24 docs, CAP=8: a 4-doc true near-dup family carrying BOTH magic
    triples (agrees on bands 0 and 1), 10 noise docs carrying only M0
    (flooding the family's band-0 bucket) and 10 carrying only M1
    (flooding its band-1 bucket). Level 1 alone emits ZERO pairs — every
    bucket the family occupies is over cap; the fused (double-width) pass
    isolates the family into its own 4-member bucket."""
    fill = lambda tag, i: " ".join(f"{tag}{i}f{j}" for j in range(8))
    rows = [(100 + i, f"{_M0} {_M1} " + fill("fam", i)) for i in range(4)]
    rows += [(200 + i, f"{_M0} " + fill("na", i)) for i in range(10)]
    rows += [(300 + i, f"{_M1} " + fill("nb", i)) for i in range(10)]
    return rows, 8


@_HEAVY_SWEEP
def test_lsh_over_cap_escalation_recovers_trapped_family(spark):
    """The two-level escalation ladder end-to-end over text: a true
    near-dup family whose every level-1 bucket is flooded over the cap is
    recovered — not just censused — by the double-rows-per-band pass, with
    its exact shared-band count; the noise docs (which only ever agree on
    one band) stay excluded; and the family pairs flow all the way through
    ``lsh_candidate_pairs`` to doc-level output."""
    rows, CAP = _escalation_fixture()
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    _members, reps = D.collapse_exact(df, "doc_id")
    fpb = D.explode_bands(reps, "fp", id_type="string").cache()
    try:
        # structure: exactly two over-cap buckets (band 0 and band 1),
        # each population 14 = family(4) + its noise flood(10)
        report = {
            r["band_idx"]: r["n_fps"]
            for r in D.overpopulated_buckets(fpb, CAP).collect()
        }
        assert report == {0: 14, 1: 14}

        # level 1 alone loses the family entirely
        assert D.fp_candidate_pairs(fpb, CAP, escalate=False).count() == 0

        # the escalated pass recovers exactly the family's C(4,2) pairs,
        # each with its TRUE shared-band count (bands 0 and 1 agree)
        fam_fps = {
            r["fp"]: r["doc_id"]
            for r in _members.filter(F.col("doc_id") < 200).collect()
        }
        got = D.fp_candidate_pairs(fpb, CAP).collect()
        assert len(got) == 6
        assert all(r["fp_a"] in fam_fps and r["fp_b"] in fam_fps for r in got)
        assert all(r["n_shared_bands"] == 2 for r in got)

        # nothing residual: the fused family bucket (4) is under the cap
        assert D.residual_overpopulated_buckets(fpb, CAP).count() == 0
    finally:
        fpb.unpersist()

    # at CAP=2 even the fused family bucket is over cap: pairs withheld,
    # residual census reports it — the documented upstream-remedy signal
    assert D.fp_candidate_pairs(fpb, 2).count() == 0
    assert D.residual_overpopulated_buckets(fpb, 2).count() > 0


def _py_two_level_pairs(bands_rows, cap):
    """Independent pure-Python oracle of the two-level candidate algorithm
    over a raw (fp, band_idx, band_sig) table. No-flood path (no bucket
    over cap): level-1 pairs with surviving-bucket counts, byte-identical
    to the uncapped self-join. Flood path (ANY bucket over cap): over-cap
    fingerprints re-band at fused (2i, 2i+1) keys, <=cap fused buckets
    emit recovered pairs, and EVERY emitted pair — level-1 and recovered
    alike — is recounted against the full band table, so n_shared_bands
    is the exact full-width shared-band count on every row (the uniform
    semantics fp_candidate_pairs adopted: a level-1 pair that also shares
    an over-cap bucket must not undercount)."""
    import itertools
    from collections import defaultdict

    buckets = defaultdict(set)
    doc_bands = defaultdict(dict)
    for fp, bi, sig in bands_rows:
        if sig is None:
            continue
        buckets[(bi, sig)].add(fp)
        doc_bands[fp][bi] = sig
    l1 = defaultdict(int)
    esc = set()
    for (bi, sig), members in buckets.items():
        if len(members) <= cap:
            for a, b in itertools.combinations(sorted(members), 2):
                l1[(a, b)] += 1
        else:
            esc |= members
    if not esc:
        return dict(l1)
    fused = defaultdict(set)
    for fp in esc:
        bs = doc_bands[fp]
        for b2 in range(max(bs) // 2 + 1):
            if 2 * b2 in bs and 2 * b2 + 1 in bs:
                fused[(b2, bs[2 * b2] + bs[2 * b2 + 1])].add(fp)
    pairs = set(l1)
    for (_, _), members in fused.items():
        if 1 < len(members) <= cap:
            pairs |= set(itertools.combinations(sorted(members), 2))
    return {
        (a, b): sum(
            1 for bi, s in doc_bands[a].items() if doc_bands[b].get(bi) == s
        )
        for a, b in pairs
    }


@given(
    st.lists(
        st.tuples(
            st.integers(0, 25),  # fp index
            st.integers(0, 3),  # band_idx
            st.integers(0, 5),  # sig bucket id (small domain -> collisions)
        ),
        min_size=4,
        max_size=120,
    ),
    st.integers(2, 6),
)
@settings(**_SETTINGS)
def test_fp_candidate_pairs_two_level_matches_python(spark, rows, cap):
    """Randomized band tables (small sig domain forces over-cap buckets,
    partial band coverage, repeated rows) against the independent
    pure-Python two-level oracle — exact pair-set AND count parity."""
    # dedupe (fp, band_idx) to one sig each — a fingerprint has ONE digest
    # per band by construction upstream
    seen = {}
    for fp, bi, sig in rows:
        seen.setdefault((fp, bi), sig)
    data = [
        (f"fp{fp:02d}", bi, f"sig{bi}_{sig}") for (fp, bi), sig in seen.items()
    ]
    expected = _py_two_level_pairs(data, cap)
    df = spark.createDataFrame(data, "fp string, band_idx int, band_sig string")
    got = {
        (r["fp_a"], r["fp_b"]): r["n_shared_bands"]
        for r in D.fp_candidate_pairs(df, cap).collect()
    }
    assert got == expected


def test_fp_candidate_pairs_level1_recount_regression(spark):
    """Regression (r10 advice): a level-1 pair that ALSO shares an over-cap
    bucket must carry the full-width count once escalation fires. fpA/fpB
    share a surviving band-0 bucket AND an over-cap band-2 bucket (no
    fused key exists for any member — bands 1 and 3 are absent), so the
    pair is emitted only by level 1 but its true shared-band count is 2.
    Surviving-bucket-only semantics would report 1."""
    data = [
        ("fpA", 0, "s0"),
        ("fpB", 0, "s0"),
        ("fpA", 2, "t0"),
        ("fpB", 2, "t0"),
        ("fpC", 2, "t0"),
        ("fpD", 2, "t0"),
    ]
    expected = _py_two_level_pairs(data, 2)
    assert expected == {("fpA", "fpB"): 2}
    df = spark.createDataFrame(data, "fp string, band_idx int, band_sig string")
    got = {
        (r["fp_a"], r["fp_b"]): r["n_shared_bands"]
        for r in D.fp_candidate_pairs(df, 2).collect()
    }
    assert got == expected


def _py_bpe_train(texts: list[str], k: int):
    """Independent pure-Python BPE trainer: word-frequency weighted pair
    counts, argmax with (count desc, pair lexicographic) tie-break, and
    the leftmost-scan merge rule (a merged position cannot chain into the
    next) — the textbook Sennrich loop, no string-encoding tricks."""
    from collections import Counter

    wf: Counter = Counter()
    for t in texts:
        for w in t.strip(" ").split():
            if w:
                wf[w] += 1
    syms = {w: tuple(w) for w in wf}
    merges = []
    for r in range(1, k + 1):
        counts: Counter = Counter()
        for w, f in wf.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a, b, a + b, cnt))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = tuple(out)
    return merges


@given(
    st.lists(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=6), min_size=1, max_size=12
        ).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_bpe_train_merges_matches_pure_python(spark, texts):
    """operators/bpe.train_merges vs the independent pure-Python trainer on
    random tiny-alphabet corpora: identical merge SEQUENCE (rules, order,
    and counts), including tie-breaks and the overlap rule ("aaa" merges
    to [aa, a], never chains) and early stop when the pair table drains.
    The tiny 'ab' alphabet maximizes ties and self-overlapping runs — the
    adversarial cases for the string-replace merge encoding."""
    from hive_backend_spark.operators.bpe import train_merges

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got, _wf = train_merges(df, 3)
    assert got == _py_bpe_train(texts, 3)


def test_bloom_sizing_ceiling_raises():
    """optimal_params must refuse a bitmap beyond the documented
    driver/executor ceiling and tell the caller to shard."""
    from hive_backend_spark.operators.bloom import MAX_M_BITS, optimal_params

    with pytest.raises(ValueError, match="shard the key space"):
        optimal_params(int(MAX_M_BITS / 9.0), 0.01)  # ~9.6 bits/key at 1% FPR
    # at the scale the repo actually uses, sizing still succeeds
    m, k = optimal_params(1_000_000, 0.01)
    assert m % 64 == 0 and k >= 1


# --- Count-Min sketch guarantees ---------------------------------------------


def test_countmin_no_underestimate_and_mergeable(spark):
    """CMS contract on a skewed key set: every point estimate >= the exact
    count (guaranteed), and building from two disjoint slices then
    re-aggregating the unioned relations equals building from the whole
    stream — the mergeable-sketch contract (q192's)."""
    from pyspark.sql import functions as F

    from hive_backend_spark.operators.sketch import cms_build, cms_estimate

    rows = [(f"k{i % 37}", 1 + (i * 7) % 13) for i in range(400)]
    df = spark.createDataFrame(rows, "k string, c long").repartition(5)
    cnt = df.groupBy("k").agg(F.sum("c").alias("c"))

    cms = cms_build(cnt, "k", "c")
    est = {
        r["k"]: r["cms_estimate"]
        for r in cms_estimate(cms, cnt.select("k"), "k").collect()
    }
    exact = {r["k"]: r["c"] for r in cnt.collect()}
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)

    ha = cnt.filter(F.col("k") < "k3")
    hb = cnt.filter(F.col("k") >= "k3")
    merged = (
        cms_build(ha, "k", "c")
        .unionByName(cms_build(hb, "k", "c"))
        .groupBy("cms_row", "pos")
        .agg(F.sum("total").alias("total"))
    )
    whole = {(r["cms_row"], r["pos"]): r["total"] for r in cms.collect()}
    got = {(r["cms_row"], r["pos"]): r["total"] for r in merged.collect()}
    assert got == whole


def test_countmin_unseen_probe_estimates_near_zero(spark):
    """Point-estimate contract for keys OUTSIDE the sketched stream: the
    relation form stores only nonzero counters, so an unseen probe whose
    positions miss every stored counter must still return a row — estimate
    0 when any of its depth counters is empty, never a vanished key or an
    inflated min over only the colliding rows."""
    from pyspark.sql import functions as F

    from hive_backend_spark.operators.sketch import CMS_DEPTH, cms_build, cms_estimate

    cnt = spark.createDataFrame(
        [("a", 100), ("b", 50)], "k string, c long"
    )
    cms = cms_build(cnt, "k", "c")
    assert cms.count() <= 2 * CMS_DEPTH  # sparse relation: nonzero only
    probes = spark.createDataFrame(
        [("a",), ("zz_never_seen",), ("another_missing",)], "k string"
    )
    est = {
        r["k"]: r["cms_estimate"]
        for r in cms_estimate(cms, probes, "k").collect()
    }
    assert set(est) == {"a", "zz_never_seen", "another_missing"}
    assert est["a"] >= 100
    # with 2 keys in a 4x1024 sketch, an unseen probe's 4 positions are
    # overwhelmingly empty somewhere -> min must fall through to 0
    assert est["zz_never_seen"] == 0
    assert est["another_missing"] == 0


# --- two-level window rewrites vs flat-window ground truth -------------------
# The fixture proves the q144/q208 decompositions at its own shapes (500 docs
# = 0 mod 4; mostly-ordered events). These adversarial inputs cover what the
# fixture can't: an ntile population NOT divisible by 4 with heavy rounded-
# score ties straddling the boundaries, and arrival orders that are fully
# reversed / all-simultaneous.


def _tmp_oracle(tmp_path, **tables):
    import duckdb

    con = duckdb.connect()
    for t, df in tables.items():
        path = str(tmp_path / f"{t}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}/*.parquet'")
    return con


def test_q144_closed_form_matches_ntile_on_remainder_and_ties(spark, tmp_path):
    """N = 23 (rem 3: the first three tiles take the extra row) and many
    documents sharing one rounded score across a stage boundary — the
    closed-form boundary + within-score doc_id rank must still reproduce
    DuckDB's ntile exactly."""
    from hive_backend_spark.registry import all_queries
    from .conftest import assert_matches_oracle

    # 12 identical 40-token docs (one shared q), 11 docs of varying length
    text_same = " ".join(["the"] * 40)
    rows = [(i, text_same, "en", "s0", len(text_same)) for i in range(12)]
    rows += [
        (100 + i, " ".join(["of"] * (10 + 7 * i)), "de", "s1", 10)
        for i in range(11)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    con = _tmp_oracle(tmp_path, documents=docs)
    spec = all_queries()["q144_curriculum_stages"]
    df = spec.fn(spark, str(tmp_path))
    assert_matches_oracle(df, con, spec.oracle, name="q144-adversarial")
    # sanity: the population really is 23 = 5+6+6+6 or ntile's 6,6,6,5 split
    got = {r["stage"]: r["n_docs"] for r in df.collect()}
    assert sum(got.values()) == 23 and got[1] == 6


def test_q208_two_level_prefix_max_on_adversarial_arrival_orders(spark, tmp_path):
    """Fully-reversed arrival (every row out of order), all-simultaneous
    timestamps (every lag 0), and a sparse non-contiguous event_id space —
    the chunk decomposition must equal DuckDB's flat unbounded-preceding
    window in all three."""
    import datetime

    from hive_backend_spark.registry import all_queries
    from .conftest import assert_matches_oracle

    t0 = datetime.datetime(2020, 1, 1)
    spec = all_queries()["q208_watermark_lag_audit"]
    cases = {
        "reversed": [
            (i * 997, t0 + datetime.timedelta(hours=200 - i), i, "click", 1.0, "{}")
            for i in range(200)
        ],
        "simultaneous": [
            (10_000_000 + i, t0, i, "view", 0.0, "{}") for i in range(50)
        ],
        "mixed_sparse": [
            (i * i + 7, t0 + datetime.timedelta(minutes=(i * 37) % 101), i,
             "click" if i % 3 else "error", float(i), "{}")
            for i in range(150)
        ],
    }
    for name, rows in cases.items():
        events = spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string",
        )
        d = tmp_path / name
        d.mkdir()
        con = _tmp_oracle(d, events=events)
        df = spec.fn(spark, str(d))
        assert_matches_oracle(df, con, spec.oracle, name=f"q208-{name}")


def test_q212_cdc_census_matches_python_ground_truth(spark, tmp_path):
    """The content-defined chunker (q212) vs a direct Python
    reimplementation on adversarial texts: whitespace mess, docs shorter
    than a gram, a shared paragraph embedded in two sources at different
    offsets (the shift-robustness CDC exists for), and byte-identical
    docs. The census (per-source chunk counts, dup shares, cross-source
    overlap) must agree exactly."""
    import hashlib
    import re
    from collections import Counter

    from hive_backend_spark.registry import all_queries

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [
        (1, "PREFIX one two " + shared + "tail words here", "en", "s0", 1),
        (2, shared + "completely different ending tokens now", "en", "s1", 1),
        (3, "   leading\t\twhitespace   and   gaps  ", "en", "s0", 1),
        (4, "xy", "en", "s1", 1),          # shorter than one gram
        (5, "xy", "en", "s1", 1),          # identical doc, same source
        (6, "", "en", "s0", 1),            # empty text
        (7, "the quick brown fox jumps over the lazy dog repeatedly", "en", "s2", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    def chunks_of(text: str) -> list[str]:
        toks = re.split(r"\s+", text.strip(" "))
        n = len(toks)
        bpos = []
        for i in range(n):
            gram = " ".join(toks[i : i + 3])
            h = int(hashlib.md5(gram.encode()).hexdigest()[:8], 16) % 8
            if i == 0 or (i <= n - 3 and h == 0):
                bpos.append(i)
        out = []
        for k, s in enumerate(bpos):
            e = bpos[k + 1] if k + 1 < len(bpos) else n
            out.append(" ".join(toks[s:e]))
        return out

    inst = [(src, hashlib.md5(c.encode()).hexdigest())
            for _i, text, _l, src, _n in rows for c in chunks_of(text)]
    corpus_counts = Counter(dg for _s, dg in inst)
    dg_sources = {}
    for s, dg in inst:
        dg_sources.setdefault(dg, set()).add(s)
    want = {}
    for src in {s for s, _ in inst}:
        mine = [dg for s, dg in inst if s == src]
        want[src] = (
            len(mine),
            len(set(mine)),
            round(sum(1 for dg in mine if corpus_counts[dg] > 1) / len(mine), 4),
            sum(1 for dg in set(mine) if len(dg_sources[dg]) > 1),
        )

    df = all_queries()["q212_chunk_dedup_census"].fn(spark, str(tmp_path))
    got = {
        r["source"]: (
            r["n_chunks"],
            r["n_distinct_chunks"],
            r["dup_instance_share"],
            r["cross_source_chunks"],
        )
        for r in df.collect()
    }
    assert got == want
    # the shared paragraph really is detected across sources despite the
    # different offsets — the property fixed-width chunking would miss
    assert want["s0"][3] > 0 and want["s1"][3] > 0


# --- prefix-filtered similarity join vs quadratic all-pairs ------------------


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=8),
        min_size=2,
        max_size=12,
    )
)
@_HEAVY_SWEEP
def test_prefix_filter_join_is_complete_and_exact(spark, tmp_path_factory, docs):
    """The AllPairs completeness theorem, adversarially: on random short
    docs over a 4-token vocabulary (dense shingle collisions, repeated and
    byte-identical docs, sub-shingle-length docs — the worst cases for a
    pruning bug) the prefix-filtered join must return EXACTLY the pairs a
    quadratic all-pairs scan finds at the same threshold — no false
    negative may slip through the prefix pruning, and exact-duplicate
    groups must collapse to one fingerprint row with the right doc mass."""
    from hive_backend_spark.queries.dedup import (
        _PFX_TAU,
        q222_prefix_filter_join,
    )

    rows = [
        (i, " ".join(toks), "en", "s0", len(toks)) for i, toks in enumerate(docs)
    ]
    d = tmp_path_factory.mktemp("pfx")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = {
        (r["fp_a"], r["fp_b"]): (
            r["jaccard"],
            r["n_docs_a"],
            r["n_docs_b"],
            r["n_doc_pairs"],
        )
        for r in q222_prefix_filter_join(spark, str(d)).collect()
    }

    def sh(text: str) -> frozenset:
        toks = text.split()
        return frozenset(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        )

    by_text = {}
    for _i, text, _l, _s, _n in rows:
        by_text[text] = by_text.get(text, 0) + 1
    items = sorted(
        (hashlib.md5(text.encode()).hexdigest(), sh(text), k)
        for text, k in by_text.items()
    )
    want = {}
    for a in range(len(items)):
        for b in range(a + 1, len(items)):
            fa, sa, ka = items[a]
            fb, sb, kb = items[b]
            if not (sa | sb):
                continue  # two sub-shingle docs: no similarity defined
            jac = len(sa & sb) / len(sa | sb)
            if jac >= _PFX_TAU:
                want[(fa, fb)] = (round(jac, 6), ka, kb, ka * kb)
    assert got == want


def test_er_block_escalation(spark):
    """The two-level blocking-key budget shared by q256/q267: a head-noun
    block over budget escalates to the first-letter key; a sub-block
    STILL over budget (the dirty-entity flood where every record shares a
    first letter) escalates again to the two-letter prefix; blocks within
    budget keep their original key bit-for-bit (the oracle-unchanged
    guarantee at TPC-H block sizes)."""
    from hive_backend_spark.queries.dedup import _er_blocked_keyed

    BUDGET = 10
    # level-1 flood: 40 names sharing head noun "unknown", 4 first letters
    # (each letter sub-block lands exactly on budget -> stays level 1)
    rows = [
        (f"{adj}{i} unknown widget item", 1)
        for i, adj in [(i, "abcd"[i % 4]) for i in range(40)]
    ]
    # level-2 flood: 30 names sharing noun "grease" AND first letter "z",
    # spread over 3 two-letter prefixes za/zb/zc (10 each)
    rows += [
        (f"z{'abc'[i % 3]}{i} grease tube item", 1) for i in range(30)
    ]
    # in-budget block: 3 names sharing head noun "bolt"
    rows += [("red bolt steel small", 2), ("hot bolt steel small", 1),
             ("big bolt brass small", 1)]
    names = spark.createDataFrame(rows, "p_name string, n_records bigint")
    keyed = _er_blocked_keyed(names, budget=BUDGET).collect()

    from collections import Counter

    flooded = [r for r in keyed if r["block"] == "unknown"]
    deep = [r for r in keyed if r["block"] == "grease"]
    in_budget = [r for r in keyed if r["block"] == "bolt"]
    # level 1: every flooded member carries the first-letter key
    assert all(r["key"] == f"unknown|{r['p_name'][0]}" for r in flooded)
    assert set(Counter(r["key"] for r in flooded).values()) == {10}
    # level 2: the shared-first-letter flood widens to two letters
    assert all(r["key"] == f"grease|{r['p_name'][:2]}" for r in deep)
    assert set(Counter(r["key"] for r in deep).values()) == {10}
    # in-budget block untouched
    assert all(r["key"] == "bolt" for r in in_budget)


def _as_two_sided_p(z):
    """Pure-python A&S 26.2.17 two-sided normal p (the engines' kernel)."""
    import math

    t = 1.0 / (1.0 + 0.2316419 * abs(z))
    poly = (
        0.319381530 * t
        + -0.356563782 * t**2
        + 1.781477937 * t**3
        + -1.821255978 * t**4
        + 1.330274429 * t**5
    )
    return 2.0 * (math.exp(-0.5 * z * z) / math.sqrt(2.0 * math.pi)) * poly


def test_q266_ewma_closed_form_matches_recursion(spark, tmp_path):
    """q266 evaluates the EWMA recursion as a closed-form window sum; this
    checks it against the LITERAL recursion z_i = lambda*x_i +
    (1-lambda)*z_(i-1), z_(-1)=mu in pure python on a synthetic series
    with a deliberate late-regime error burst — ground truth independent
    of both engines' shared formula."""
    import datetime
    import math

    from hive_backend_spark.registry import all_queries

    t0 = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    # 28 days: a sustained error-rate shift over the last 7 days (EWMA
    # alarms on sustained shifts; the smoothed walk needs several days
    # above baseline to cross the in-sample limits)
    plan = [(40, 2)] * 21 + [(40, 16)] * 7
    for d, (n_ok, n_err) in enumerate(plan):
        for k in range(n_ok + n_err):
            et = "error" if k < n_err else "click"
            rows.append(
                (eid, t0 + datetime.timedelta(days=d, minutes=k), k, et, 1.0, "{}")
            )
            eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    d = tmp_path / "ewma"
    d.mkdir()
    events.coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))

    got = {
        r["day"].isoformat(): r
        for r in all_queries()["q266_ewma_control_chart"].fn(spark, str(d)).collect()
    }
    assert len(got) == len(plan)

    xs = [ne / (no + ne) for (no, ne) in plan]
    mu = sum(xs) / len(xs)
    var = sum((x - mu) ** 2 for x in xs) / (len(xs) - 1)
    sigma = math.sqrt(var)
    lam, L = 0.2, 3.0
    z = mu
    for i, x in enumerate(xs):
        z = lam * x + (1 - lam) * z  # the literal recursion
        hw = L * sigma * math.sqrt(
            lam / (2 - lam) * (1 - (1 - lam) ** (2 * (i + 1)))
        )
        day = (t0 + datetime.timedelta(days=i)).date().isoformat()
        r = got[day]
        assert abs(r["z"] - z) < 2e-6, (day, r["z"], z)
        assert abs(r["ucl"] - (mu + hw)) < 2e-6
        assert abs(r["lcl"] - (mu - hw)) < 2e-6
        assert r["breach"] == (z > mu + hw or z < mu - hw)
    # the sustained shift must actually alarm, and the quiet regime not
    quiet = [
        (t0 + datetime.timedelta(days=i)).date().isoformat() for i in range(21)
    ]
    burst = [
        (t0 + datetime.timedelta(days=i)).date().isoformat() for i in range(21, 28)
    ]
    assert any(got[k]["breach"] for k in burst)
    assert not any(got[k]["breach"] for k in quiet)


def test_q268_mann_whitney_matches_pure_python(spark, tmp_path):
    """q268's censused average ranks + tie-corrected variance vs a direct
    rank-sum implementation, on a tiny value codomain (ties everywhere)
    with a real location shift in one type and none in another."""
    import datetime
    import math

    from hive_backend_spark.registry import all_queries

    t0 = datetime.datetime(2024, 1, 10)   # early side of _BH_SPLIT
    t1 = datetime.datetime(2024, 1, 20)   # late side
    rows, eid = [], 0
    series = {
        # type -> (early values, late values); heavy ties by design
        "click": ([1.0] * 30 + [2.0] * 20, [2.0] * 25 + [3.0] * 25),  # shift
        "view": ([1.0] * 20 + [2.0] * 20, [1.0] * 21 + [2.0] * 19),   # none
    }
    for et, (early, late) in series.items():
        for v in early:
            rows.append((eid, t0, eid % 7, et, v, "{}")); eid += 1
        for v in late:
            rows.append((eid, t1, eid % 7, et, v, "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    d = tmp_path / "mw"
    d.mkdir()
    events.coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))
    got = {
        r["event_type"]: r
        for r in all_queries()["q268_mann_whitney_drift"].fn(spark, str(d)).collect()
    }

    for et, (early, late) in series.items():
        combined = sorted(early + late)
        # average rank per value (1-based)
        ranks = {}
        i = 0
        while i < len(combined):
            j = i
            while j < len(combined) and combined[j] == combined[i]:
                j += 1
            ranks[combined[i]] = (i + 1 + j) / 2.0
            i = j
        n1, n2 = len(early), len(late)
        r1 = sum(ranks[v] for v in early)
        u1 = r1 - n1 * (n1 + 1) / 2.0
        nn = n1 + n2
        ties = {}
        for v in combined:
            ties[v] = ties.get(v, 0) + 1
        tie_term = sum(t**3 - t for t in ties.values())
        sigma = math.sqrt(n1 * n2 / 12.0 * ((nn + 1) - tie_term / (nn * (nn - 1))))
        z = (u1 - n1 * n2 / 2.0) / sigma
        r = got[et]
        assert r["n_early"] == n1 and r["n_late"] == n2
        assert abs(r["u1"] - u1) < 0.051, (et, r["u1"], u1)
        assert abs(r["z"] - z) < 2e-4, (et, r["z"], z)
        assert abs(r["p"] - _as_two_sided_p(z)) < 1e-6
    assert bool(got["click"]["drift"]) is True
    assert bool(got["view"]["drift"]) is False


def test_q269_theil_sen_matches_pure_python(spark, tmp_path):
    """q269's median pairwise slope and tie-corrected Mann-Kendall z vs a
    direct implementation, on a series with a monotone trend plus tied
    plateau days (the tie-correction path) and a flat series."""
    import datetime
    import math
    import statistics

    from hive_backend_spark.registry import all_queries

    t0 = datetime.datetime(2024, 1, 1)
    series = {
        "click": [10, 12, 12, 15, 15, 15, 18, 22, 27, 33],  # rising, ties
        "view": [8] * 10,                                    # flat: all tied
    }
    rows, eid = [], 0
    for et, counts in series.items():
        for day, n in enumerate(counts):
            for k in range(n):
                rows.append(
                    (eid, t0 + datetime.timedelta(days=day, minutes=k), k, et,
                     1.0, "{}")
                )
                eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    d = tmp_path / "ts"
    d.mkdir()
    events.coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))
    got = {
        r["event_type"]: r
        for r in all_queries()["q269_theil_sen_trend"].fn(spark, str(d)).collect()
    }

    for et, counts in series.items():
        doms = list(range(1, len(counts) + 1))
        slopes, s = [], 0
        for i in range(len(counts)):
            for j in range(i + 1, len(counts)):
                slopes.append((counts[j] - counts[i]) / (doms[j] - doms[i]))
                s += (counts[j] > counts[i]) - (counts[j] < counts[i])
        med = statistics.median(slopes)
        nd = len(counts)
        ties = {}
        for n in counts:
            ties[n] = ties.get(n, 0) + 1
        tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
        var = (nd * (nd - 1) * (2 * nd + 5) - tie_term) / 18.0
        r = got[et]
        assert r["n_days"] == nd
        assert abs(r["ts_slope"] - med) < 1e-6, (et, r["ts_slope"], med)
        assert r["mk_s"] == s
        if var > 0 and s != 0:
            z = (s - (1 if s > 0 else -1)) / math.sqrt(var)
            assert abs(r["z"] - z) < 2e-4
            assert abs(r["p"] - _as_two_sided_p(z)) < 1e-6
    assert got["click"]["trend"] == "increasing"
    assert got["view"]["trend"] == "none"
    assert got["view"]["mk_s"] == 0
