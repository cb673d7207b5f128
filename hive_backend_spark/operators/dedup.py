"""Near-duplicate detection building blocks — MinHash-LSH, SimHash, n-gram
Jaccard (SURVEY §7 Phase 3; no reference analog — the reference's only dedup
is the UNIQUE-constraint kind, db.mjs:49, covered by q51).

Design for 100 TB:
  - Signatures are computed per document in a single scan (no shuffle);
    md5 is the cross-engine-stable hash so the DuckDB oracle can replay
    every step bit-for-bit.
  - LSH banding turns all-pairs O(N^2) into a self-equi-join on
    (band_idx, band_sig) — the shuffle key is a 32-char digest, and bucket
    sizes (not corpus size) bound the pair blow-up. Skewed buckets are
    exactly what AQE skew-join handles.
  - The Jaccard verification stage runs only on LSH candidates, so its
    cost is O(candidates), not O(N^2).

MinHash minimum is taken over hex-digest STRINGS: fixed-length lowercase hex
compares lexicographically exactly like the underlying 128-bit integer, which
keeps the signature portable across engines without bigint-from-hex casts.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_HASHES = 8
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS

# Flood-path census persistence is BOUNDED, not leaked: fp_candidate_pairs
# must leave its over-cap census persisted when it returns (the lazy plan
# it hands back reuses the census in two joins that have not materialized
# yet), so the newest census per live application evicts the previous one
# here. Unpersisting a still-referenced census is always safe — a late
# consumer just recomputes the aggregate — and stale applications are
# swept on the next lookup, the _sig_tables discipline
# (queries/dedup.py:58).
_FLOOD_CENSUS: dict[str, DataFrame] = {}


def _retain_flood_census(census: DataFrame) -> None:
    app_id = census.sparkSession.sparkContext.applicationId
    for k in [k for k in _FLOOD_CENSUS if k != app_id]:
        del _FLOOD_CENSUS[k]
    prev = _FLOOD_CENSUS.get(app_id)
    if prev is not None and prev is not census:
        prev.unpersist()
    _FLOOD_CENSUS[app_id] = census


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the same normalization the text queries use)."""
    return F.split(F.trim(text), r"\s+")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles. Documents shorter than n tokens yield
    an empty set (sequence guard: DuckDB's range(1,1) is empty; Spark's
    sequence(1,0) would throw)."""
    t = tokens(text)
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1)))
    gram = lambda i: F.concat_ws(" ", *[F.element_at(t, i + k) for k in range(n)])  # noqa: E731
    return F.array_distinct(F.when(F.size(t) >= n, F.transform(idx, gram)).otherwise(F.array()))


def minhash_signature(shingle_arr: Column, k: int = N_HASHES) -> Column:
    """k-permutation MinHash: sig[seed] = min over shingles of
    md5('{seed}|{shingle}'). Pure column expressions — one scan, no UDF."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda seed: F.array_min(
            F.transform(
                shingle_arr,
                lambda s: F.md5(F.concat(seed.cast("string"), F.lit("|"), s)),
            )
        ),
    )


def lsh_band_sigs(sig: Column, bands: int = N_BANDS, rows: int = ROWS_PER_BAND) -> Column:
    """Collapse each band of `rows` signature entries into one digest; two
    docs are candidates iff they agree on at least one band digest. The
    rows==1 case still md5s the single entry so this column form produces
    byte-identical digests to ``minhash_bands_udf``/``explode_bands`` for
    every (bands, rows) configuration."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.concat(*[F.element_at(sig, b * rows + r + 1) for r in range(rows)])
        ),
    )


def spread(df: DataFrame) -> DataFrame:
    """Repartition to the session's default parallelism before CPU-heavy
    per-row stages. The test fixtures are single-file/single-rowgroup
    parquet, which Spark cannot split — without this every signature UDF
    runs on ONE core. On a real multi-file table this is a no-op decision,
    but fanning out before expensive narrow stages is standard practice
    whenever upstream partitioning is coarser than the CPU budget."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def shingles_udf(n: int = 3):
    """Arrow-batched UDF: text -> distinct word n-gram shingles. Same output
    as ``shingles`` (split on whitespace after trim, n-gram join by single
    space, first-occurrence dedup) without the interpreted per-shingle
    concat lambda of the column form."""
    import re

    ws = re.compile(r"\s+")

    @F.pandas_udf("array<string>")
    def shingle_of(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            # strip(" ") not strip(): SQL trim (Spark AND the DuckDB oracle)
            # removes only ASCII spaces, so leading \n/\t must survive into
            # the split exactly as the column form sees them
            toks = ws.split(text.strip(" "))
            if len(toks) < n:
                out.append([])
            else:
                grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
                out.append(list(dict.fromkeys(grams)))
        return pd.Series(out)

    return shingle_of


def minhash_bands_udf(k: int = N_HASHES, bands: int = N_BANDS):
    """Arrow-batched UDF: array<string> shingles -> array<string> band sigs.

    Computes the SAME bytes as ``minhash_signature`` + ``lsh_band_sigs``
    (md5 hex, lexicographic min, md5-of-concat banding) but ~100x faster:
    the pure-column form runs every md5 through an interpreted
    higher-order-function lambda (~200 us/eval measured), which is minutes
    per million shingle-hashes; here hashlib + a cross-row memo does the
    same work in one Python pass per Arrow batch."""
    rows = k // bands

    @F.pandas_udf("array<string>")
    def bands_of(shingle_arrays: pd.Series) -> pd.Series:
        import hashlib

        memo: dict[tuple[int, str], str] = {}

        def seed_hash(seed: int, s: str) -> str:
            key = (seed, s)
            h = memo.get(key)
            if h is None:
                h = hashlib.md5(f"{seed}|{s}".encode()).hexdigest()
                memo[key] = h
            return h

        out = []
        for shingle_arr in shingle_arrays:
            if len(shingle_arr) == 0:
                # column form / oracle: min over an empty set is NULL and
                # null-intolerant concat+md5 keeps it NULL — an empty doc has
                # no band identity and must never join another empty doc
                out.append([None] * bands)
                continue
            sig = [min(seed_hash(seed, s) for s in shingle_arr) for seed in range(k)]
            out.append(
                [
                    hashlib.md5("".join(sig[b * rows : (b + 1) * rows]).encode()).hexdigest()
                    for b in range(bands)
                ]
            )
        return pd.Series(out)

    return bands_of


def minhash_sig_udf(k: int = N_HASHES):
    """Arrow-batched UDF: array<string> shingles -> the raw k-entry MinHash
    signature (hex-string minima, the same bytes ``minhash_signature``
    derives) — for consumers that need the per-seed entries themselves
    (e.g. the q136 estimate-accuracy audit) rather than band digests.
    Empty shingle sets yield NULL entries, matching the column form."""

    @F.pandas_udf("array<string>")
    def sig_of(shingle_arrays: pd.Series) -> pd.Series:
        import hashlib

        memo: dict[tuple[int, str], str] = {}

        def seed_hash(seed: int, s: str) -> str:
            key = (seed, s)
            h = memo.get(key)
            if h is None:
                h = hashlib.md5(f"{seed}|{s}".encode()).hexdigest()
                memo[key] = h
            return h

        out = []
        for shingle_arr in shingle_arrays:
            if len(shingle_arr) == 0:
                out.append([None] * k)
            else:
                out.append(
                    [min(seed_hash(seed, s) for s in shingle_arr) for seed in range(k)]
                )
        return pd.Series(out)

    return sig_of


def collapse_exact(df: DataFrame, id_col: str, text_col: str = "text"):
    """Exact-duplicate pre-collapse for the signature pass: returns
    (members, reps) where members = (fp, id) — a map-side md5 projection,
    no text ever shuffles — and reps = ONE (fp, text) row per DISTINCT
    text (md5-keyed groupBy; first() partially aggregates map-side, so the
    shuffled text volume is per-partition-distinct texts, which is exactly
    what a boilerplate flood collapses to).

    Why this exists: identical documents produce identical MinHash
    signatures in EVERY band, so without the collapse a flood of K copies
    (millions of identical error pages at web scale) puts K rows in the
    same bucket of every band and the band self-join emits O(K^2) pairs —
    an output-size explosion AQE skew splitting cannot fix. Running the
    shingle->MinHash->band pass once per distinct text bounds both the
    signature CPU and the self-join by DISTINCT texts; exact-duplicate
    membership is reattached afterwards (expansion joins in
    ``lsh_candidate_pairs`` / the queries' cluster-label stage)."""
    fp = F.md5(F.col(text_col))
    members = df.select(fp.alias("fp"), F.col(id_col))
    # distinct() on (fp, text), not groupBy(fp).agg(first/min(text)): a
    # string-valued aggregate BUFFER forces SortAggregate (UnsafeRow can't
    # mutate var-length fields), while distinct is a HashAggregate whose
    # grouping keys may be strings — map-side combine, no per-partition sort
    reps = df.select(fp.alias("fp"), F.col(text_col)).distinct()
    return members, reps


def explode_bands(
    df: DataFrame, id_col: str, text_col: str = "text", id_type: str = "bigint"
) -> DataFrame:
    """(id, band_idx, band_sig) — the LSH bucket table, the join key for
    candidate generation. One row per doc per band. `id_type` lets the
    same pass run over bigint doc ids or the string fingerprints of the
    exact-dup pre-collapse (``collapse_exact``).

    Implemented with mapInPandas rather than posexplode(udf(...)): a
    Generate over a python-UDF column re-evaluates the UDF once per
    GENERATED row (measured 86x slowdown); mapInPandas computes each doc's
    signature once and yields the band rows directly."""
    import hashlib
    import re

    k, bands, rows = N_HASHES, N_BANDS, ROWS_PER_BAND
    ws = re.compile(r"\s+")

    def gen(batches):
        # BOUNDED seed-hash memo: its value is cross-doc shingle repetition
        # (stopword-heavy grams), but on a growing-vocabulary corpus the
        # hit rate collapses while the dict grows with every distinct
        # (seed, shingle) seen by the partition — at the 32x scale point
        # that was ~5M entries (~500 MB) of dead cache per worker, and the
        # allocator/GC pressure showed up as a super-linear exponent on
        # the cold signature pass. Clearing at 1M entries keeps the
        # hot-gram win and bounds worker memory.
        memo: dict[tuple[int, str], str] = {}

        def seed_hash(seed: int, s: str) -> str:
            key = (seed, s)
            h = memo.get(key)
            if h is None:
                if len(memo) >= 1_000_000:
                    memo.clear()
                h = hashlib.md5(f"{seed}|{s}".encode()).hexdigest()
                memo[key] = h
            return h

        for pdf in batches:
            ids, idxs, sigs = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                # strip(" ") mirrors SQL trim (spaces only) — see shingles_udf
                toks = ws.split(text.strip(" "))
                grams = (
                    list(dict.fromkeys(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)))
                    if len(toks) >= 3
                    else []
                )
                if grams:
                    sig = [min(seed_hash(seed, s) for s in grams) for seed in range(k)]
                else:
                    # no band identity for empty docs (NULL, matching the
                    # column form / oracle) — null keys never equi-join, so
                    # gram-less docs can't become candidates of each other
                    sig = None
                for b in range(bands):
                    ids.append(doc_id)
                    idxs.append(b)
                    sigs.append(
                        None
                        if sig is None
                        else hashlib.md5(
                            "".join(sig[b * rows : (b + 1) * rows]).encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame({id_col: ids, "band_idx": idxs, "band_sig": sigs})

    return spread(df.select(id_col, text_col)).mapInPandas(
        gen, schema=f"{id_col} {id_type}, band_idx int, band_sig string"
    )


# Per-(band_idx, band_sig) fingerprint ceiling for candidate generation.
# The exact-dup collapse bounds a bucket by DISTINCT texts, but a
# NEAR-identical template flood (a boilerplate page whose K variants differ
# by one token) can still populate one bucket with K distinct fingerprints
# and make the self-join's output C(K, 2) — an output-size explosion no
# partitioning fixes. Buckets beyond the cap are never self-joined at their
# original width; instead they ESCALATE to a second-level pass at double
# rows-per-band (adjacent bands fused, so agreement requires twice the
# MinHash rows → strictly finer buckets) and only buckets still over the
# cap at that width are dropped — surfaced by ``residual_overpopulated_
# buckets``. ``overpopulated_buckets`` / the q195 census reports the
# level-1 escalation set. The default cap sits far above any legitimate
# distinct-text bucket at the tested scale factors, so the oracle-checked
# outputs are unchanged; floods are the only thing the two-level ladder
# ever touches.
BUCKET_CAP = 4096


def _overcap_census(fp_bands: DataFrame, bucket_cap: int) -> DataFrame:
    """THE bucket census: per-(band_idx, band_sig) fingerprint population,
    filtered to over-cap rows. Computed as ONE map-side-combined aggregate
    and reused by the escalation probe, the cap filter (anti-join), and
    the escalation set — the round-9 shape computed it three times (two
    windows + a probe aggregate), ~1.2 s of duplicated census on the cold
    q79 pass. Its output is bounded by the number of FLOOD buckets (zero
    on every tested corpus), so it broadcasts."""
    return (
        fp_bands.filter(F.col("band_sig").isNotNull())
        .groupBy("band_idx", "band_sig")
        .agg(F.count(F.lit(1)).alias("n_fps"))
        .filter(F.col("n_fps") > bucket_cap)
    )


def overpopulated_buckets(
    fp_bands: DataFrame, bucket_cap: int = BUCKET_CAP
) -> DataFrame:
    """The escalated-bucket report beside ``fp_candidate_pairs``: every
    (band_idx, band_sig, n_fps) bucket whose distinct-fingerprint
    population exceeds the cap — the buckets candidate generation refused
    to expand at the original band width, each one C(n_fps, 2) pairs of
    avoided output. These buckets are no longer silently dropped: their
    fingerprints re-band at double rows-per-band (``fp_candidate_pairs``
    escalation) and only level-2 residuals are withheld (see
    ``residual_overpopulated_buckets``). Non-empty output remains the
    flood-monitoring signal (q195's purpose)."""
    return _overcap_census(fp_bands, bucket_cap)


def _fused_bands(fp_bands: DataFrame, esc_fps: DataFrame) -> DataFrame:
    """Level-2 band table for the escalated fingerprints: adjacent original
    bands (2i, 2i+1) fuse into one band of double the MinHash rows. Two
    fingerprints agree on fused band i iff they agree on BOTH constituent
    band digests, which is exactly agreement on 2*ROWS_PER_BAND signature
    rows — so the fused key (concat of the two digests) reproduces the
    raise-the-band-width remedy without re-running the signature pass.
    Odd trailing bands have no sibling and are excluded (N_BANDS is even
    here; the filter makes the generalization explicit)."""
    rows = fp_bands.join(esc_fps, "fp", "left_semi").filter(
        F.col("band_sig").isNotNull()
    )
    # pivot via a 1:1 even-half x odd-half equi-join on (fp, band2_idx),
    # NOT a groupBy with max(string) buffers: a string-valued aggregate
    # buffer forces SortAggregate (UnsafeRow can't mutate var-length
    # fields) — the exact plan regression the collapse_exact discipline
    # and the q67 plan pin exist to prevent. The join keys are unique per
    # side (one digest per (fp, band), by construction upstream), so the
    # join emits exactly one fused row per band pair.
    half = (F.col("band_idx") / 2).cast("int").alias("band2_idx")
    ev = rows.filter(F.col("band_idx") % 2 == 0).select(
        "fp", half, F.col("band_sig").alias("__s0")
    )
    od = rows.filter(F.col("band_idx") % 2 == 1).select(
        "fp", half, F.col("band_sig").alias("__s1")
    )
    return ev.join(od, ["fp", "band2_idx"]).select(
        "fp", "band2_idx", F.concat("__s0", "__s1").alias("band2_sig")
    )


def residual_overpopulated_buckets(
    fp_bands: DataFrame, bucket_cap: int = BUCKET_CAP
) -> DataFrame:
    """Level-2 dropped-bucket report: (band2_idx, band2_sig, n_fps) fused
    buckets that remain over the cap even at double rows-per-band — the
    only buckets ``fp_candidate_pairs`` actually withholds. Non-empty
    output means a flood of variants whose signatures agree on 2x-width
    bands, i.e. near-byte-identical templates; the remaining remedy is
    upstream (boilerplate stripping / exact-dup widening), not more bands."""
    esc_fps = _escalated_fps(fp_bands, bucket_cap)
    return (
        _fused_bands(fp_bands, esc_fps)
        .groupBy("band2_idx", "band2_sig")
        .agg(F.count(F.lit(1)).alias("n_fps"))
        .filter(F.col("n_fps") > bucket_cap)
    )


def _escalated_fps(
    fp_bands: DataFrame, bucket_cap: int, over: DataFrame | None = None
) -> DataFrame:
    """Distinct fingerprints appearing in at least one over-cap level-1
    bucket — the population the level-2 pass re-bands. Pass ``over`` to
    reuse an already-computed (ideally persisted) census instead of
    re-aggregating the band table."""
    if over is None:
        over = _overcap_census(fp_bands, bucket_cap)
    return (
        fp_bands.join(
            F.broadcast(over.select("band_idx", "band_sig")),
            ["band_idx", "band_sig"],
            "left_semi",
        )
        .select("fp")
        .distinct()
    )


def fp_candidate_pairs(
    fp_bands: DataFrame, bucket_cap: int = BUCKET_CAP, escalate: bool = True
) -> DataFrame:
    """Fingerprint-level candidate pairs (fp_a < fp_b, n_shared_bands) from
    a (fp, band_idx, band_sig) table over DISTINCT texts. The self-join's
    output is bounded by distinct-text bucket sizes — the exact-dup flood
    case never reaches this join (it was collapsed to one row per text
    upstream) — AND by the per-bucket ceiling: buckets over ``bucket_cap``
    fingerprints (a near-identical template flood) are excluded from the
    original-width join, so the level-1 pair output is <= sum over
    surviving buckets of C(min(n, cap), 2) by construction. The bucket
    census is computed ONCE (``_overcap_census``, a map-side-combined
    aggregate whose output is bounded by the flood-bucket count) and
    reused three ways: as the escalation probe, as a broadcast anti-join
    cap filter, and as the escalation set — the no-flood path (every
    tested corpus) then self-joins the raw band table with NO window sort
    and NO cap filter at all, since the probe proved the filter a no-op.
    NULL band signatures (gram-less texts) are filtered up front — they
    can never equi-join and would only skew the census.

    Two-level escalation (``escalate=True``, the default): fingerprints
    trapped in over-cap buckets are NOT dropped — they re-band at double
    rows-per-band (``_fused_bands``: adjacent band digests concatenated,
    equivalent to halving the band count of the same signatures), the
    fused buckets get the same cap, and surviving fused buckets self-join.
    When escalation fires, ALL emitted pairs — recovered and level-1
    alike — are recounted against the full band table (bounded by the
    emitted-pair volume x the fixed band count), so ``n_shared_bands``
    is the exact full-width shared-band count on every row, one scale
    for downstream rankers (q67/q173); level-2 residual buckets are the
    only withheld output (``residual_overpopulated_buckets``).
    When no bucket exceeds the cap the escalation branch is empty and the
    output is byte-identical to the uncapped self-join — the
    oracle-unchanged guarantee."""
    from pyspark.sql.window import Window

    nn = fp_bands.filter(F.col("band_sig").isNotNull())

    def _l1(sized: DataFrame) -> DataFrame:
        a = sized.alias("a")
        b = sized.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_sig") == F.col("b.band_sig"))
                & (F.col("a.fp") < F.col("b.fp")),
            )
            .groupBy(F.col("a.fp").alias("fp_a"), F.col("b.fp").alias("fp_b"))
            .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        )

    over = _overcap_census(fp_bands, bucket_cap)
    if not escalate:
        # lazy cap-filtered level-1 join (the census anti-joins as a
        # broadcast — its row count is the flood-bucket count)
        return _l1(
            nn.join(F.broadcast(over), ["band_idx", "band_sig"], "left_anti")
        )

    # Adaptive escalation (the AQE discipline applied at plan-build time):
    # probe whether ANY bucket exceeds the cap before composing the
    # level-2 DAG. The probe is a bounded action — the shared over-cap
    # census LIMIT 1, at most one row regardless of corpus size — and in
    # the production path it reads the already-persisted signature table
    # (_sig_tables cache). Without it, every no-flood run (all tested
    # scale factors, most real corpora) would pay ~6 extra shuffles of
    # the band table for an empty escalation branch — measured 2x on the
    # cold clustering pass (q79). The census is PERSISTED before the
    # probe so the flood path's three reuses (probe, cap anti-join,
    # escalation semi-join) aggregate the band table exactly once.
    over = over.persist()
    has_over = over.limit(1).count()
    if has_over == 0:
        over.unpersist()
        # proven no-op filter: self-join the raw band table directly —
        # no window sort, no anti-join, nothing the cap could change
        return _l1(nn)

    # flood path: the census must outlive this call (the returned lazy
    # plan joins it twice), so hand it to the bounded per-application
    # registry — the next flood-path call unpersists this one.
    _retain_flood_census(over)
    l1 = _l1(nn.join(F.broadcast(over), ["band_idx", "band_sig"], "left_anti"))
    esc_fps = _escalated_fps(fp_bands, bucket_cap, over=over)
    fused = _fused_bands(fp_bands, esc_fps)
    w2 = Window.partitionBy("band2_idx", "band2_sig")
    sized2 = (
        fused.withColumn("__n2", F.count(F.lit(1)).over(w2))
        .filter(F.col("__n2") <= bucket_cap)
        .drop("__n2")
    )
    fa = sized2.alias("fa")
    fb = sized2.alias("fb")
    esc_pairs = (
        fa.join(
            fb,
            (F.col("fa.band2_idx") == F.col("fb.band2_idx"))
            & (F.col("fa.band2_sig") == F.col("fb.band2_sig"))
            & (F.col("fa.fp") < F.col("fb.fp")),
        )
        .select(F.col("fa.fp").alias("fp_a"), F.col("fb.fp").alias("fp_b"))
        .distinct()
    )
    # Uniform-semantics recount: once ANY bucket was over cap, level-1
    # counts are surviving-bucket-only (a pair that also shares an over-cap
    # bucket undercounts), so recount EVERY emitted pair — level-1 and
    # recovered alike — against the full band table. n_shared_bands then
    # means the same thing on every row: the exact full-width shared-band
    # count. The recount joins are output-bounded (pairs x fixed band
    # count), never flood-sized, and the no-flood fast path above returns
    # l1 untouched — the oracle-unchanged guarantee.
    all_pairs = l1.select("fp_a", "fp_b").unionByName(esc_pairs).distinct()
    nn = fp_bands.filter(F.col("band_sig").isNotNull())
    ba = nn.select(F.col("fp").alias("fp_a"), "band_idx", "band_sig")
    bb = nn.select(F.col("fp").alias("fp_b"), "band_idx", "band_sig")
    return (
        all_pairs.join(ba, "fp_a")
        .join(bb, ["fp_b", "band_idx", "band_sig"])
        .groupBy("fp_a", "fp_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def lsh_candidate_pairs(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) with the number of agreeing
    bands — byte-identical output to the naive per-document band self-join,
    computed flood-safely: exact duplicates are collapsed to one fingerprint
    BEFORE the self-join (``collapse_exact``), pairs are generated at the
    distinct-text level (``fp_candidate_pairs``), then membership expands
    them back to documents:

      - cross-fingerprint: every member of fp_a pairs with every member of
        fp_b, inheriting the fingerprint pair's n_shared_bands (identical
        texts have identical band digests, so the doc-level count equals
        the fp-level count);
      - within-fingerprint: byte-identical documents agree on ALL non-null
        bands, so each multi-member fingerprint with a band identity
        contributes its member pairs with n_shared_bands = its band count
        (empty-shingle texts have NULL bands and never become candidates).

    The expansion joins are output-bounded: they emit exactly the pairs the
    naive join would, but the quadratic work now happens only where the
    OUTPUT is genuinely quadratic, never inside a shuffle bucket."""
    members, reps = collapse_exact(df, id_col, text_col)
    fpb = explode_bands(reps, "fp", text_col, id_type="string")
    fpp = fp_candidate_pairs(fpb)
    ma = members.select(F.col("fp").alias("fp_a"), F.col(id_col).alias("__ida"))
    mb = members.select(F.col("fp").alias("fp_b"), F.col(id_col).alias("__idb"))
    cross = (
        fpp.join(ma, "fp_a")
        .join(mb, "fp_b")
        .select(
            F.least("__ida", "__idb").alias("doc_a"),
            F.greatest("__ida", "__idb").alias("doc_b"),
            "n_shared_bands",
        )
    )
    n_banded = (
        fpb.filter(F.col("band_sig").isNotNull())
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    w1 = members.join(n_banded, "fp").select(
        "fp", F.col(id_col).alias("doc_a"), "n_shared_bands"
    )
    w2 = members.select("fp", F.col(id_col).alias("doc_b"))
    within = (
        w1.join(w2, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "n_shared_bands")
    )
    return cross.unionByName(within)


# --- SimHash ---------------------------------------------------------------

# 64-bit SimHash emitted as a 64-char '0'/'1' string: portable across engines
# (no unsigned-bigint headaches), prefix-sliceable for blocking, and hamming
# distance is a positionwise character comparison.
def simhash64_udf():
    """Arrow-batched scalar UDF: array<string> tokens -> 64-char bit string.
    Built lazily (pandas_udf registration wants a live session). Token
    hashes are memoized per batch — real corpora repeat tokens heavily."""

    @F.pandas_udf("string")
    def simhash64(token_arrays: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        # token -> precomputed 64-element +-1 bit-vote row, memoized across
        # the whole Arrow batch (real corpora repeat tokens heavily)
        cache: dict[str, "np.ndarray"] = {}
        shifts = np.arange(63, -1, -1, dtype=np.uint64)

        def tok_votes(t: str) -> "np.ndarray":
            v = cache.get(t)
            if v is None:
                h = np.uint64(int(hashlib.md5(t.encode()).hexdigest()[:16], 16))
                bits = (h >> shifts) & np.uint64(1)
                v = bits.astype(np.int32) * 2 - 1
                cache[t] = v
            return v

        out = []
        for toks in token_arrays:
            if len(toks) == 0:
                out.append("0" * 64)
                continue
            # stack per-token vote rows, sum columns, sign -> bit
            acc = np.sum([tok_votes(t) for t in toks], axis=0)
            out.append("".join("1" if a > 0 else "0" for a in acc))
        return pd.Series(out)

    return simhash64


def hamming_bits(a: Column, b: Column, width: int = 64) -> Column:
    """Hamming distance between two equal-length '0'/'1' bit strings.

    Implemented as bit_count(xor) over 16-bit chunks parsed with conv() —
    pure codegen'd expressions. The naive form (F.filter over a position
    sequence with per-position substr) evaluates `width` interpreted
    lambdas per pair, which at ~200k candidate pairs costs seconds; this
    form is a handful of integer instructions per chunk."""
    chunks = []
    pos = 1
    while pos <= width:
        n = min(16, width - pos + 1)
        ca = F.conv(F.substring(a, pos, n), 2, 10).cast("int")
        cb = F.conv(F.substring(b, pos, n), 2, 10).cast("int")
        chunks.append(F.bit_count(ca.bitwiseXOR(cb)))
        pos += n
    out = chunks[0]
    for c in chunks[1:]:
        out = out + c
    return out


# --- n-gram Jaccard --------------------------------------------------------


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard over two (distinct-element) arrays. array_intersect /
    array_union apply set semantics, matching DuckDB list_intersect /
    list_distinct(list_concat(...))."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# --- duplicate-cluster formation (connected components) --------------------

# Edge-count bound of the single-worker union-find path of
# ``connected_components``; larger edge lists take the distributed star
# contraction. Measured on a 4-core VM with random 32-char hex-string edges
# (two runs each, count included): the local pass took 1.6-2.0 s at 200 k
# edges, where the star contraction took 13-21 s, and 6.3-6.9 s at 1 M
# edges; at 1 M edges (865 k nodes) the union-find's process peaked at
# 0.31 GB resident, 0.2 GB above its baseline. The bound keeps the worst
# case there: seconds of time and a fraction of a gigabyte in one worker.
LOCAL_CC_MAX_EDGES = 1_000_000


def _union_find_labels(e: DataFrame) -> DataFrame:
    """(node, label) over the (a, b) edge list ``e`` by one union-find pass
    in a single Python worker. Every union hangs the larger root under the
    smaller, so each root is its component's minimum node and a node's
    label is its root. Python orders ints and strs as Spark orders integer
    and string columns (a UTF-8 byte order is its code-point order), the
    id types both callers use. An edge with a NULL endpoint adds its other
    endpoint as a node and a (NULL, NULL) row, as the star contraction's
    outer join does."""

    def label(batches):
        import pyarrow as pa

        parent: dict = {}
        saw_null = False
        id_type = None

        def find(x):
            root = parent.setdefault(x, x)
            if root == x:
                return x
            while parent[root] != root:
                root = parent[root]
            while x != root:
                parent[x], x = root, parent[x]
            return root

        for batch in batches:
            id_type = batch.schema.field("a").type
            for a, b in zip(batch.column("a").to_pylist(), batch.column("b").to_pylist()):
                if a is None or b is None:
                    saw_null = True
                    for x in (a, b):
                        if x is not None:
                            find(x)
                    continue
                ra, rb = find(a), find(b)
                if ra < rb:
                    parent[rb] = ra
                elif rb < ra:
                    parent[ra] = rb
        if id_type is None:
            return
        nodes = list(parent)
        labels = [find(n) for n in nodes]
        if saw_null:
            nodes.append(None)
            labels.append(None)
        yield pa.RecordBatch.from_arrays(
            [pa.array(nodes, id_type), pa.array(labels, id_type)],
            names=["node", "label"],
        )

    sql_type = e.schema["a"].dataType.simpleString()
    return e.repartition(1).mapInArrow(label, f"node {sql_type}, label {sql_type}")


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25
) -> DataFrame:
    """Connected components over an undirected edge list. Returns (node,
    label) where label = min node id in the component; only nodes that
    appear in an edge are returned (singletons don't need clustering), and
    a self-loop-only node labels itself.

    The edge list is checkpointed once and counted, and the count picks
    one of two paths with the same output:

      - at most ``LOCAL_CC_MAX_EDGES`` edges: one union-find pass over all
        edges in a single Python worker (``_union_find_labels``), one job
        after the count. Duplicate-cluster graphs are this size: at sf0.1
        q79 labels 890 fingerprint pairs and q116 628 vector pairs, and
        the star rounds below were most of their fixed cost (cold q79
        took 25 Spark jobs with them and takes 15 without; q116 26 and 7).
        ``max_iter`` does not apply; union-find always finishes.
      - more edges: the distributed star contraction, the only path for a
        graph too large for one worker's memory (see the bound's comment
        for the measured time and memory).

    The star contraction alternates large-star and small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Each round rewrites the edge set with two star operations:
      - large-star: in the symmetric neighbor view, every neighbor v > u
        re-attaches to m(u) = min({u} union N(u));
      - small-star: over the to-smaller orientation, every node and its
        smaller neighbors re-attach to their minimum.
    Each is a window aggregate on the node key — distributed, with nothing
    on the driver but the convergence fingerprint. The edge set
    contracts toward stars centered at each component's minimum, reaching
    fixpoint in O(log n) rounds REGARDLESS of graph diameter — the property
    min-label propagation lacks (its round count equals the diameter, which
    made adversarially long chains hit the max_iter failure mode this
    version retires). localCheckpoint() truncates lineage each round; the
    fingerprint aggregate is the single action that materializes it, so
    each round costs one Spark job plus its shuffles.

    Convergence detection: the rewrites preserve components, and the ONLY
    fixpoint shape is a union of to-smaller stars — every source node has
    exactly one out-edge (count == countDistinct(a)) and no source is also
    a target (countDistinct(a union b) == countDistinct(a) +
    countDistinct(b), i.e. the endpoint sets are disjoint). Both are pure
    aggregates folded into one action. The detection runs on EVEN rounds
    only (and always on the last allowed round): duplicate-cluster graphs
    converge in exactly 2 rounds, so checking round 1 is almost always a
    wasted aggregate pass; a fixpoint reached on a skipped round is stable
    under the next round's (idempotent) rewrite and is detected there —
    at worst one extra cheap rewrite for odd-round-converging graphs,
    never a wrong result.
    """
    # checkpoint the normalized edge list once so the count, `nodes` (used
    # at the end) and the loop's round 1 all read a materialized table
    # instead of each re-running the caller's upstream plan (for the dedup
    # pipeline that upstream is the whole LSH band self-join)
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=False
    )
    if e.count() <= LOCAL_CC_MAX_EDGES:
        return _union_find_labels(e)
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
    )
    # work on the to-smaller orientation (a > b), self-loops dropped: they
    # carry no connectivity and node membership is preserved via `nodes`
    cur = (
        e.filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    from pyspark.sql import Window

    converged = False
    for it in range(max_iter):
        # Per-node minima are computed as WINDOW aggregates over the node
        # partition rather than groupBy + self-join: one exchange per star
        # op instead of two. (Window partitions buffer a node's edge rows
        # in one task — the same per-key locality a groupBy needs, with
        # spill for hub nodes.)
        # large-star: neighbors v > u link to m(u) = min({u} union N(u)).
        # Emitted edges are already to-smaller oriented (m <= u < v).
        sym = cur.union(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        wa = Window.partitionBy("a")
        lm = sym.withColumn("m", F.least(F.col("a"), F.min("b").over(wa)))
        large = lm.filter(F.col("b") > F.col("a")).select(
            F.col("b").alias("a"), F.col("m").alias("b")
        )
        # small-star: node u and all its smaller neighbors link to their
        # minimum. Duplicate emissions are NOT deduplicated — the next
        # round's windows absorb them and the detection below counts
        # distinct pairs, so duplicates can't fake or mask convergence;
        # skipping the distinct saves a full shuffle per round.
        sm = large.withColumn("m", F.min("b").over(wa))
        small = (
            sm.select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .union(sm.select("a", "m"))
            .localCheckpoint(eager=False)
        )
        # Detection runs every SECOND round (odd `it` = 1-indexed rounds
        # 2, 4, ...) plus the last allowed round: duplicate-cluster
        # graphs are near-cliques that converge in exactly 2 star rounds, so
        # round 1's detection aggregate (Expand over 2x the edge set + a
        # collect) almost never fires — skipping it saves those stages every
        # call. Correctness is unchanged: a graph that converges on a
        # skipped round is a star-union FIXPOINT, the next round's rewrite
        # is idempotent on it, and that round's detection fires; max_iter
        # still bounds the loop. The eager count() materializes the skipped
        # round's checkpoint so the next round's two reads of `small` hit
        # the cached partitions instead of racing to recompute them.
        if it % 2 == 0 and it + 1 < max_iter:
            small.count()
            cur = small
            continue
        # all four distinct-counts from ONE union relation so the detection
        # is a single aggregate subtree (one Expand, one action) — a
        # crossJoin of two aggregate subtrees doubles the scheduled stages
        # per round for no information gain
        u = small.select(
            F.struct("a", "b").alias("pr"), F.col("a").alias("n"), F.lit("a").alias("side")
        ).union(
            small.select(F.lit(None).alias("pr"), F.col("b").alias("n"), F.lit("b").alias("side"))
        )
        row = u.agg(
            F.countDistinct("pr").alias("cd_e"),
            F.countDistinct(F.when(F.col("side") == "a", F.col("n"))).alias("cd_a"),
            F.countDistinct(F.when(F.col("side") == "b", F.col("n"))).alias("cd_b"),
            F.countDistinct("n").alias("cd_all"),
        ).collect()[0]
        cur = small
        if (
            row["cd_e"] == row["cd_a"]
            and row["cd_all"] == row["cd_a"] + row["cd_b"]
        ):
            converged = True
            break
    if not converged:
        # Partially-contracted edges are silently WRONG downstream (split
        # clusters, bogus canonical docs) — fail loudly instead. With the
        # O(log n) star contraction this needs a graph of ~2^max_iter nodes
        # to trigger legitimately.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "iterations; labels would be partially propagated"
        )
    # At fixpoint the edge set is a union of stars (node -> component min);
    # roots and self-loop-only nodes label themselves via the left join.
    ptr = cur.groupBy("a").agg(F.min("b").alias("label")).select(
        F.col("a").alias("node"), "label"
    )
    return nodes.join(ptr, "node", "left").select(
        "node", F.coalesce("label", F.col("node")).alias("label")
    )
