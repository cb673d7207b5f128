"""Near-dup detection queries over `documents` — MinHash-LSH, SimHash,
n-gram Jaccard (SURVEY §7 Phase 3 extensions; operator library in
``operators/dedup.py``). Exact-hash dedup is q63/q64 in ``text.py``.

Every stage of the pipeline is oracle-checked: signatures (q82), LSH
candidate generation (q67), Jaccard verification (q68), SimHash signatures
(q69). md5 is the shared cross-engine hash, so DuckDB replays the exact
bit-for-bit computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import dedup as D
from ..registry import register

# Shared oracle fragments (DuckDB): tokens -> distinct 3-gram shingles ->
# 8-seed minhash -> 4 band digests. Mirrors operators/dedup.py exactly.
_ORACLE_SHINGLES = """
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(regexp_split_to_array(trim(text),'\\s+')) - 1, 1)),
           i -> concat_ws(' ', regexp_split_to_array(trim(text),'\\s+')[i],
                          regexp_split_to_array(trim(text),'\\s+')[i+1],
                          regexp_split_to_array(trim(text),'\\s+')[i+2]))) AS shingles
  FROM documents
"""

_ORACLE_SIG = f"""
  SELECT doc_id,
         list_transform(range(0, 8), seed ->
           list_aggregate(list_transform(shingles, s -> md5(concat(CAST(seed AS VARCHAR), '|', s))), 'min')) AS sig
  FROM ({_ORACLE_SHINGLES})
"""

_ORACLE_BANDS = f"""
  SELECT doc_id, generate_subscripts(b, 1) - 1 AS band_idx, unnest(b) AS band_sig
  FROM (SELECT doc_id, list_transform(range(0, 4), b -> md5(concat(sig[2*b+1], sig[2*b+2]))) AS b
        FROM ({_ORACLE_SIG}))
"""

# The signature pass (tokenize -> shingle -> minhash -> band) reads every
# byte of text; candidate generation and verification only join 32-char
# digests. Since round 6 the pass runs once per DISTINCT text: documents
# are collapsed by exact md5 fingerprint first (operators/dedup.py
# collapse_exact), the band table is keyed by fingerprint, and doc-level
# results are reattached through the (fp, doc_id) membership table. This
# removes the boilerplate-flood cliff — K byte-identical documents used to
# put K rows in the same bucket of EVERY band, making the self-join's
# output O(K^2); now they are one fingerprint row everywhere quadratic
# work could happen. Both tables materialize once per (session, corpus) —
# exactly what a production near-dup pipeline does by persisting its
# signature table — so every consumer shares one text-reading pass. Keyed
# by applicationId (stable per live session, never reused by a successor
# session the way id(spark) can be); entries from stopped sessions are
# evicted on the next lookup.
_SIG_CACHE: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def _sig_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(members, fp_bands): the cached (fp, doc_id) membership projection
    and the (fp, band_idx, band_sig) table over distinct texts."""
    app_id = spark.sparkContext.applicationId
    stale = [k for k in _SIG_CACHE if k[0] != app_id]
    for k in stale:
        del _SIG_CACHE[k]
    key = (app_id, sf_dir)
    pair = _SIG_CACHE.get(key)
    if pair is None:
        docs = load_table(spark, sf_dir, "documents")
        members, reps = D.collapse_exact(docs, "doc_id")
        pair = (
            members.cache(),
            D.explode_bands(reps, "fp", id_type="string").cache(),
        )
        _SIG_CACHE[key] = pair
    return pair


def _bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level (doc_id, band_idx, band_sig) — the q82 surface, derived by
    joining membership back to the fingerprint band table (identical texts
    have identical band digests, so this reproduces the per-document pass
    byte for byte; the join key is a 32-char digest)."""
    members, fp_bands = _sig_tables(spark, sf_dir)
    return members.join(fp_bands, "fp").select("doc_id", "band_idx", "band_sig")


# Cluster labels are the second materialization point of the pipeline: the
# connected-components pass runs once per (session, corpus) and its
# (node, label) table — tiny, |clustered docs| rows — is reused by every
# consumer (cluster listing q79, canonical selection q90/q112), exactly as a
# production pipeline persists its cluster assignment table. Same
# applicationId keying/eviction as _BANDS_CACHE.
_LABELS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _cluster_labels_sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node=doc_id, label=min doc_id in the duplicate component,
    cluster_size=|component|) — same output as running connected components
    over the doc-level candidate graph, computed at the FINGERPRINT level:
    CC contracts the distinct-text graph (byte-identical docs are
    definitionally one node), then membership expands labels back to
    documents. A boilerplate flood of K copies is ONE node here instead of
    a K-clique — the labelling pass's edge count is bounded by distinct
    texts, which keeps it under ``D.LOCAL_CC_MAX_EDGES`` and on the
    one-job union-find path at the tested scales. Multi-member
    fingerprints with a band identity but no cross-fingerprint edge are
    their own components (their docs are mutual exact duplicates);
    empty-shingle texts have NULL bands and never cluster.

    cluster_size rides the SAME aggregate that computes the label (one
    groupBy(ckey) producing min(doc_id) and count — a doc belongs to
    exactly one ckey, and labels are distinct across ckeys because each is
    the min of a disjoint doc set), so consumers that need sizes (q79,
    q203, q214) read a cached column instead of re-aggregating the label
    table and joining it back — one exchange + one join fewer each."""
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _LABELS_CACHE if k[0] != app_id]:
        del _LABELS_CACHE[k]
    key = (app_id, sf_dir)
    df = _LABELS_CACHE.get(key)
    if df is None:
        members, fp_bands = _sig_tables(spark, sf_dir)
        fpp = _fp_pairs(spark, sf_dir).select("fp_a", "fp_b")
        graph = D.connected_components(fpp, src="fp_a", dst="fp_b").select(
            F.col("node").alias("fp"), F.col("label").alias("ckey")
        )
        # no distinct: left_semi tolerates duplicate build rows, so the
        # 4-rows-per-fp band table joins as-is (one exchange fewer)
        banded = fp_bands.filter(F.col("band_sig").isNotNull()).select("fp")
        solo = (
            members.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("k"))
            .filter(F.col("k") >= 2)
            .select("fp")
            .join(banded, "fp", "left_semi")
            .join(graph.select("fp"), "fp", "left_anti")
            .select("fp", F.col("fp").alias("ckey"))
        )
        keyed = graph.unionByName(solo)
        docs_k = members.join(keyed, "fp").select("doc_id", "ckey")
        lab = docs_k.groupBy("ckey").agg(
            F.min("doc_id").alias("label"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
        df = (
            docs_k.join(lab, "ckey")
            .select(F.col("doc_id").alias("node"), "label", "cluster_size")
            .cache()
        )
        _LABELS_CACHE[key] = df
    return df


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, label) view of the cached sized label table — the surface
    every consumer that doesn't need sizes keeps using unchanged."""
    return _cluster_labels_sized(spark, sf_dir).select("node", "label")


# Doc-level candidate pairs are the third materialization point: the
# expansion of fingerprint pairs through exact-dup membership (_lsh_pairs)
# sits ABOVE the _sig_tables/_fp_pairs caches, so before round 8 every
# consumer (q67/q68/q130's three self-join aliases/q136/q214/q227/...)
# re-executed the cross+within union from the cached inputs — q130 alone
# read it five times (VERDICT r7 "What's wrong" #1). Persisting the pair
# table once per (session, corpus) restores the persist-the-candidate-table
# discipline a production pipeline uses; the table is O(candidate pairs),
# the same size every consumer was already shuffling. Same applicationId
# keying/eviction as _SIG_CACHE.
_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _drain(cache: dict) -> None:
    for key in list(cache):
        dfs = cache.pop(key)
        for df in dfs if isinstance(dfs, tuple) else (dfs,):
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped; nothing to release


def clear_labels_cache() -> None:
    """Unpersist and drop the cached cluster-label tables only (signature
    AND candidate-pair tables stay warm — candidate generation has its own
    cold-timed surface, q67, whose pre-attempt hook is
    clear_candidates_cache). The bench clears this before every timed q79
    attempt so the clustering pass alone is measured cold even under
    min-of-N timing."""
    _drain(_LABELS_CACHE)


def clear_bands_cache() -> None:
    """Unpersist and drop every cached signature, candidate-pair,
    cluster-label, and shingle-set table. Used by the bench harness to time
    the signature + clustering (+ exact-join) passes cold."""
    _drain(_SIG_CACHE)
    _drain(_LABELS_CACHE)
    _drain(_FP_SHINGLES_CACHE)
    _drain(_PAIRS_CACHE)
    _drain(_FPP_CACHE)


def clear_candidates_cache() -> None:
    """Unpersist and drop the candidate-pair tables only — the
    fingerprint-level band self-join result (_FPP_CACHE) and its doc-level
    expansion (_PAIRS_CACHE); signature and label tables stay. The bench
    clears this before every timed q67 attempt so CANDIDATE GENERATION has
    a declared cold-timed surface (r13 verdict task #1): q82 cold covers
    the signature pass, q67 cold the band self-join + membership expansion,
    q79 cold the clustering pass. Every other pair/label consumer reads the
    warm tables, as declared in bench.SHARES_BAND_CACHE."""
    _drain(_PAIRS_CACHE)
    _drain(_FPP_CACHE)


# Fingerprint-level candidate pairs are the candidate-generation surface at
# distinct-text grain: _lsh_pairs expands them to documents, _cluster_labels
# contracts them to components, q227 peels them. Before round 13 each of
# those re-ran the band self-join (plus fp_candidate_pairs' bounded
# escalation probe — a driver action per call) from the cached band table;
# one persisted table per (session, corpus) is the same
# persist-the-candidate-table discipline as _PAIRS_CACHE one level down.
# Evicted by clear_bands_cache (it is band-derived state) and by
# clear_candidates_cache (the bench's per-attempt cold reset for q67, the
# declared candidate-generation surface — r13 verdict task #1), NOT by
# clear_labels_cache — the cold-q79 contract covers the clustering pass
# only and reads this table warm.
_FPP_CACHE: dict[tuple[str, str], DataFrame] = {}


def _fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-level candidate pairs (fp_a < fp_b, n_shared_bands):
    the band self-join over DISTINCT texts only — the flood-safe core of
    candidate generation (operators/dedup.py fp_candidate_pairs).
    Persisted once per (session, corpus)."""
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _FPP_CACHE if k[0] != app_id]:
        del _FPP_CACHE[k]
    key = (app_id, sf_dir)
    df = _FPP_CACHE.get(key)
    if df is None:
        _members, fp_bands = _sig_tables(spark, sf_dir)
        df = D.fp_candidate_pairs(fp_bands).cache()
        _FPP_CACHE[key] = df
    return df


def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level candidate pairs, byte-identical to the naive per-document
    band self-join (the q67 oracle), produced by expanding the
    fingerprint-level pairs through exact-duplicate membership:
    cross-fingerprint pairs inherit the fingerprint pair's shared-band
    count (identical texts have identical digests); within-fingerprint
    pairs — byte-identical documents — agree on ALL their non-null bands.
    The expansion is output-bounded: quadratic work happens only where the
    OUTPUT is quadratic, never inside a shuffle bucket. Pair rows are
    unique by construction (one fingerprint per doc). Persisted once per
    (session, corpus): consumers that fan out over the pair table (q130's
    three triangle aliases, q227's peeling rounds) read the cached blocks
    instead of re-running the expansion."""
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _PAIRS_CACHE if k[0] != app_id]:
        del _PAIRS_CACHE[k]
    cache_key = (app_id, sf_dir)
    cached = _PAIRS_CACHE.get(cache_key)
    if cached is not None:
        return cached
    members, fp_bands = _sig_tables(spark, sf_dir)
    fpp = _fp_pairs(spark, sf_dir)
    ma = members.select(F.col("fp").alias("fp_a"), F.col("doc_id").alias("ida"))
    mb = members.select(F.col("fp").alias("fp_b"), F.col("doc_id").alias("idb"))
    cross = (
        fpp.join(ma, "fp_a")
        .join(mb, "fp_b")
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            "n_shared_bands",
        )
    )
    n_banded = (
        fp_bands.filter(F.col("band_sig").isNotNull())
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    w1 = members.join(n_banded, "fp").select(
        "fp", F.col("doc_id").alias("doc_a"), "n_shared_bands"
    )
    w2 = members.select("fp", F.col("doc_id").alias("doc_b"))
    within = (
        w1.join(w2, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "n_shared_bands")
    )
    df = cross.unionByName(within).cache()
    _PAIRS_CACHE[cache_key] = df
    return df


@register(
    "q82_minhash_bands",
    oracle=f"SELECT doc_id, band_idx, band_sig FROM ({_ORACLE_BANDS})",
)
def q82_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH bucket table: (doc_id, band_idx, band_sig), one row per
    doc per band — the single-scan signature stage. At 100 TB this is the
    only pass that reads document text; everything downstream joins on
    32-char digests."""
    return _bands(spark, sf_dir)


@register(
    "q67_lsh_candidates",
    oracle=f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
    FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
      ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def q67_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: self-equi-join of the bucket table on
    (band_idx, band_sig), run over DISTINCT texts after exact-duplicate
    pre-collapse, then expanded back to documents (_lsh_pairs). The shuffle
    key is the band digest and the self-join is bounded by distinct-text
    bucket sizes — a flood of byte-identical documents (the bucket that IS
    corpus-sized at web scale) collapses to one fingerprint before any
    quadratic step; the O(N^2) -> O(candidates) reduction that makes
    near-dup feasible at 100 TB now holds under boilerplate floods too."""
    return _lsh_pairs(spark, sf_dir)


@register(
    "q68_jaccard_verify",
    oracle=f"""
    WITH sh AS ({_ORACLE_SHINGLES}),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(x.shingles, y.shingles))), 6) AS jaccard
    FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
    """,
)
def q68_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard verification of LSH candidates: join candidate pairs
    back to their shingle sets and compute exact set Jaccard. Runs on
    O(candidates) rows only — the standard verify stage after LSH recall."""
    sh = _doc_shingles(spark, sf_dir)
    cand = _lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    x = sh.alias("x")
    y = sh.alias("y")
    return (
        cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(y, F.col("y.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(D.jaccard(F.col("x.shingles"), F.col("y.shingles")), 6).alias("jaccard"),
        )
    )


@register(
    "q320_pair_alignment_forensics",
    oracle=f"""
    WITH cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           FROM documents),
    al AS (
      SELECT doc_a, doc_b, x.toks AS ta, y.toks AS tb,
             len(x.toks) AS la, len(y.toks) AS lb
      FROM cand JOIN tk x ON x.doc_id = doc_a JOIN tk y ON y.doc_id = doc_b
    ),
    m AS (
      SELECT doc_a, doc_b, la, lb,
        coalesce(list_min(list_filter(list_transform(range(1, least(la, lb) + 1),
          i -> CASE WHEN ta[i] <> tb[i] THEN i END), v -> v IS NOT NULL)),
          least(la, lb) + 1) - 1 AS lcp,
        coalesce(list_min(list_filter(list_transform(range(1, least(la, lb) + 1),
          i -> CASE WHEN ta[la - i + 1] <> tb[lb - i + 1] THEN i END),
          v -> v IS NOT NULL)), least(la, lb) + 1) - 1 AS lcs_raw
      FROM al
    )
    SELECT doc_a, doc_b,
           CAST(la AS BIGINT) AS len_a, CAST(lb AS BIGINT) AS len_b,
           CAST(lcp AS BIGINT) AS lcp_tokens,
           CAST(least(lcs_raw, least(la, lb) - lcp) AS BIGINT) AS lcs_tokens,
           CAST(la - lcp - least(lcs_raw, least(la, lb) - lcp) AS BIGINT)
             AS core_a,
           CAST(lb - lcp - least(lcs_raw, least(la, lb) - lcp) AS BIGINT)
             AS core_b,
           CASE WHEN lcp + least(lcs_raw, least(la, lb) - lcp) >= least(la, lb)
                THEN 'affix_only' ELSE 'internal_edit' END AS edit_class
    FROM m ORDER BY doc_a, doc_b
    """,
)
def q320_pair_alignment_forensics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE near-duplicates differ: for every LSH candidate pair, the
    token-level longest common prefix and suffix, the residual core sizes
    outside the shared affixes, and a shape class — 'affix_only' (one text
    extends/truncates the other: navigation chrome, appended footers)
    versus 'internal_edit' (mid-document mutation: template slot-filling,
    paraphrase). Dedup FORENSICS, not detection: q68 says how similar a
    pair is, this says what KIND of edit separates them, which is what
    decides the remedy (boilerplate stripping vs cluster-collapse) at
    pipeline-tuning time.

    Determinism: affix lengths are first-mismatch positions — integer
    minima over exact token comparisons (suffix side scans the reversed
    index), with the suffix capped at min(len) - lcp so overlapping
    affixes in containment pairs never double-count.

    Scale posture: the expensive object (candidate pairs) is the shared
    cached LSH output — O(candidates), never all-pairs; texts join to
    pairs by doc_id (two broadcast-friendly joins at candidate volume) and
    the affix scan is a per-row higher-order fold bounded by
    min(len_a, len_b). Reference: no diff surface; §7 Phase-3 dedup
    forensics beside q68/q179/q195."""
    docs = load_table(spark, sf_dir, "documents")
    cand = _lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    tk = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    x, y = tk.alias("x"), tk.alias("y")
    al = (
        cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(y, F.col("y.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("x.toks").alias("ta"),
            F.col("y.toks").alias("tb"),
            F.size("x.toks").alias("la"),
            F.size("y.toks").alias("lb"),
        )
    )
    lcp = F.expr(
        "coalesce(array_min(filter(transform(sequence(1, least(la, lb)),"
        " i -> CASE WHEN element_at(ta, i) != element_at(tb, i) THEN i END),"
        " v -> v IS NOT NULL)), least(la, lb) + 1) - 1"
    )
    lcs_raw = F.expr(
        "coalesce(array_min(filter(transform(sequence(1, least(la, lb)),"
        " i -> CASE WHEN element_at(ta, la - i + 1) != element_at(tb, lb - i + 1)"
        " THEN i END), v -> v IS NOT NULL)), least(la, lb) + 1) - 1"
    )
    m = al.select(
        "doc_a", "doc_b", "la", "lb", lcp.alias("lcp"), lcs_raw.alias("lcs_raw")
    )
    lcs = F.least(F.col("lcs_raw"), F.least("la", "lb") - F.col("lcp"))
    return m.select(
        "doc_a",
        "doc_b",
        F.col("la").cast("bigint").alias("len_a"),
        F.col("lb").cast("bigint").alias("len_b"),
        F.col("lcp").cast("bigint").alias("lcp_tokens"),
        lcs.cast("bigint").alias("lcs_tokens"),
        (F.col("la") - F.col("lcp") - lcs).cast("bigint").alias("core_a"),
        (F.col("lb") - F.col("lcp") - lcs).cast("bigint").alias("core_b"),
        F.when(
            F.col("lcp") + lcs >= F.least("la", "lb"), F.lit("affix_only")
        )
        .otherwise(F.lit("internal_edit"))
        .alias("edit_class"),
    ).orderBy("doc_a", "doc_b")


_ORACLE_SIMHASH = """
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents
    ), bits AS (
      SELECT doc_id, p.p AS pos,
             sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(t), (p.p // 4) + 1, 1)) - 1)
                            >> (3 - (p.p % 4))) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM tok, (SELECT unnest(range(0, 64)) AS p) p
      GROUP BY doc_id, p.p
    )
    SELECT doc_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY pos) AS simhash
    FROM bits GROUP BY doc_id
"""


@register("q69_simhash_signatures", oracle=_ORACLE_SIMHASH)
def q69_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 per document (bit-string form): Arrow-batched pandas UDF
    over the token array; each token's md5-derived 64 bits vote +-1 per
    position, sign gives the signature bit (ties -> 0). Near-dups then
    reduce to small-hamming-distance pairs, blockable by bit-prefix.
    The oracle replays the identical bit votes in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", D.simhash64_udf()(D.tokens(F.col("text"))).alias("simhash")
    )


@register(
    "q100_simhash_near_dup",
    oracle=f"""
    WITH sh AS ({_ORACLE_SIMHASH}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS ha, b.simhash AS hb
      FROM sh a JOIN sh b
        ON a.doc_id < b.doc_id
       AND (substr(a.simhash, 1, 16) = substr(b.simhash, 1, 16)
         OR substr(a.simhash, 17, 16) = substr(b.simhash, 17, 16)
         OR substr(a.simhash, 33, 16) = substr(b.simhash, 33, 16)
         OR substr(a.simhash, 49, 16) = substr(b.simhash, 49, 16))
    )
    SELECT doc_a, doc_b,
           len(list_filter(range(1, 65),
               i -> substr(ha, CAST(i AS INT), 1) <> substr(hb, CAST(i AS INT), 1))) AS hamming
    FROM pairs
    WHERE len(list_filter(range(1, 65),
              i -> substr(ha, CAST(i AS INT), 1) <> substr(hb, CAST(i AS INT), 1))) <= 3
    """,
)
def q100_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at scale: 64-bit signatures (q69) are split
    into 4 disjoint 16-bit bands; candidate pairs come from an equi-join on
    (band_idx, band_bits) — by pigeonhole, any pair within hamming
    distance 3 agrees exactly on at least one band, so blocking loses no
    recall at the <=3 threshold. The verify stage computes exact hamming on
    O(candidates) pairs only. Same shape as MinHash-LSH (q67): the
    all-pairs O(N^2) never materializes; the shuffle key is 16 bits of
    signature, and AQE handles hot buckets."""
    docs = load_table(spark, sf_dir, "documents")
    # Materialize signatures once: the self-join's broadcast side defeats
    # exchange reuse, so without this the signature UDF runs twice (both
    # sides of the join re-derive it from the raw text).
    sigs = (
        D.spread(docs)
        .select("doc_id", D.simhash64_udf()(D.tokens(F.col("text"))).alias("simhash"))
        .localCheckpoint(eager=False)
    )
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.substring("simhash", 1 + 16 * b, 16) for b in range(4)])
        ).alias("band_idx", "band_bits"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    # dedup on the 16-byte id pair BEFORE touching the 64-char signatures
    # (a pair matching in k bands appears k times); signatures re-attach via
    # two doc_id equi-joins against the checkpointed sig table
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # Signature re-attach: the sig table has ONE ROW PER CORPUS DOCUMENT, so
    # it must never carry a broadcast hint — at 100x scale a forced broadcast
    # materializes the whole corpus's signatures on every executor. Plain
    # equi-joins on doc_id let AQE broadcast while the table is actually
    # small and fall back to a shuffled hash join when it isn't.
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", D.hamming_bits(F.col("ha"), F.col("hb")).alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )


@register(
    "q79_dup_clusters",
    oracle=f"""
    WITH RECURSIVE
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand
      UNION
      SELECT doc_b AS s, doc_a AS d FROM cand
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, w.reach FROM edges e JOIN walk w ON w.node = e.d
    ),
    lab AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node)
    SELECT l.doc_id, l.cluster_id, c.cluster_size
    FROM lab l
    JOIN (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id) c
      USING (cluster_id)
    """,
)
def q79_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster formation: connected components over the LSH
    candidate graph (q67) by distributed min-label propagation — the final
    stage of the near-dup pipeline, turning pairwise hits into dedup groups
    from which one canonical doc per cluster is kept. The DuckDB oracle
    replays the clustering as a recursive reachability CTE, so even the
    iterative stage is value-checked, not just row-counted."""
    # cluster_size is a column of the cached label table (computed by the
    # same aggregate as the label itself), so the query is a pure projection
    # — the r12 shape re-aggregated the label table and joined it back.
    return _cluster_labels_sized(spark, sf_dir).select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


@register(
    "q87_edit_distance_verify",
    oracle=f"""
    WITH cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           levenshtein(substr(x.text, 1, 200), substr(y.text, 1, 200)) AS edit_dist_200
    FROM cand
    JOIN documents x ON x.doc_id = doc_a
    JOIN documents y ON y.doc_id = doc_b
    """,
)
def q87_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of LSH candidates: Levenshtein over a
    fixed 200-char prefix of each side. The prefix bound is the scale
    guard — Levenshtein is O(len_a x len_b) per pair, so unbounded inputs
    make worst-case pairs quadratic in document size; a fixed prefix keeps
    the cost constant per candidate while still separating near-dups from
    hash collisions. Runs on O(candidates) pairs only, like q68."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 200).alias("prefix")
    )
    cand = _lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", F.levenshtein("pa", "pb").alias("edit_dist_200"))
    )


@register(
    "q90_canonical_docs",
    oracle=f"""
    WITH RECURSIVE
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand
      UNION
      SELECT doc_b AS s, doc_a AS d FROM cand
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, w.reach FROM edges e JOIN walk w ON w.node = e.d
    ),
    lab AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node)
    SELECT doc_id, 'cluster_rep' AS kept_reason FROM lab WHERE doc_id = cluster_id
    UNION ALL
    SELECT doc_id, 'unique' AS kept_reason
    FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM lab)
    """,
)
def q90_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final answer: which documents survive. Composes
    the whole chain — shingle -> minhash -> LSH bands (q82) -> candidate
    pairs (q67) -> duplicate clusters (q79) -> keep one canonical doc per
    cluster (its min doc_id) plus every document that was never a candidate.
    The anti join's build side is |clustered docs| — it grows with the
    corpus (carries no broadcast hint; AQE broadcasts while small, shuffles
    when not); the corpus is scanned once beyond the signature pass, which
    is shared/cached across the whole pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    labels = _cluster_labels(spark, sf_dir)
    reps = labels.filter(F.col("node") == F.col("label")).select(
        F.col("node").alias("doc_id"), F.lit("cluster_rep").alias("kept_reason")
    )
    uniques = (
        docs.join(
            labels.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
        ).select("doc_id", F.lit("unique").alias("kept_reason"))
    )
    return reps.unionAll(uniques)


@register(
    "q112_quality_canonical",
    oracle=f"""
    WITH RECURSIVE
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand
      UNION
      SELECT doc_b AS s, doc_a AS d FROM cand
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, w.reach FROM edges e JOIN walk w ON w.node = e.d
    ),
    lab AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node),
    q AS (
      SELECT doc_id,
             round(LEAST(len(regexp_split_to_array(trim(text), '\\s+')) / 100.0, 1.0) * 0.5
                   + LEAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                           t -> list_contains(['the','a','of','and']::VARCHAR[], t)))
                           / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) * 5.0,
                           1.0) * 0.5, 4) AS quality_score
      FROM documents
    ),
    ranked AS (
      SELECT lab.cluster_id, lab.doc_id, q.quality_score,
             row_number() OVER (PARTITION BY lab.cluster_id
                                ORDER BY q.quality_score DESC, lab.doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY lab.cluster_id) AS cluster_size
      FROM lab JOIN q USING (doc_id)
    )
    SELECT cluster_id, doc_id AS canonical_doc_id, quality_score, cluster_size
    FROM ranked WHERE rn = 1
    """,
)
def q112_quality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: the production refinement of q90 —
    instead of keeping each duplicate cluster's min doc_id, keep its
    HIGHEST-QUALITY member (the C4-style score from q62; doc_id breaks
    ties), which is what a real training pipeline retains when collapsing
    near-dups. Composes the full chain: signature pass (shared/cached) ->
    LSH candidates -> connected components -> per-cluster top-1 by score.

    Scale posture: quality scores are a map-side projection joined to the
    cluster label table — |clustered docs| rows, a corpus-growing side left
    to AQE's runtime join choice (no forced broadcast); the per-cluster
    top-1 is WindowGroupLimit, never a full sort. The oracle
    replays clustering as a recursive CTE and scoring inline, so the whole
    composition is value-checked."""
    from .text import STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    labels = _cluster_labels_sized(spark, sf_dir)

    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    quality = F.round(
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.5
        + F.least(stop_hits / n_tokens.cast("double") * 5.0, F.lit(1.0)) * 0.5,
        4,
    )
    q = docs.select("doc_id", quality.alias("quality_score"))

    from pyspark.sql import Window

    # The label table is |clustered docs| rows — it GROWS with the corpus
    # (30-50% of docs sit in some cluster at web-scale dup rates), so no
    # explicit broadcast hint: AQE broadcasts while it is actually small and
    # shuffles both sides on doc_id when it isn't.
    scored = q.join(
        labels.select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",  # cached column; the r12 shape re-counted it
        ),                   # with a second window over the same partition
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.select(
            "cluster_id",
            "doc_id",
            "quality_score",
            F.row_number().over(w).alias("rn"),
            "cluster_size",
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc_id"),
            "quality_score",
            "cluster_size",
        )
    )


@register(
    "q130_triangle_census",
    oracle=f"""
    WITH cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    tri AS (
      SELECT count(*) AS n_triangles FROM cand e1
      JOIN cand e2 ON e2.doc_a = e1.doc_b
      JOIN cand e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT doc_a AS node FROM cand UNION ALL SELECT doc_b AS node FROM cand
      ) GROUP BY node
    )
    SELECT (SELECT n_triangles FROM tri) AS n_triangles,
           (SELECT count(*) FROM cand) AS n_edges,
           (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges
    """,
)
def q130_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census over the LSH candidate graph: triangles confirm that
    near-dup neighborhoods are cliques (transitive duplicates) rather than
    hash-collision chains — a high wedge-to-triangle ratio means band
    collisions are linking unrelated docs and the band width needs raising.
    The compact-forward join (every edge stored once, oriented by a total
    order; two self-joins count each triangle exactly once) is the
    standard distributed algorithm. Round 8: the candidate expansion is
    persisted once (_PAIRS_CACHE) instead of re-executing for each of the
    five consumers (VERDICT r7 #1), and the orientation is by (degree, id)
    rather than raw id — low-degree endpoint first, which bounds the
    per-node fan-out of the e1⋈e2 join by the degeneracy of the graph
    instead of the max degree (Chiba–Nishizeki / compact-forward, public
    algorithm). The triangle count is invariant under any acyclic
    orientation, so the oracle (id-oriented) is unchanged. At 100 TB the
    joins shuffle on the edge key and AQE handles residual skew. Shares
    the q82 band table."""
    raw = _lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    deg = (
        raw.select(F.col("doc_a").alias("node"))
        .unionAll(raw.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("doc_a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("doc_b"), F.col("d").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("doc_a") < F.col("doc_b"))
    )
    edges = (
        raw.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.when(lower_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
            F.when(lower_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
        )
        .localCheckpoint(eager=False)
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) / 2")).cast("bigint").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.crossJoin(n_edges)
        .crossJoin(stats)
        .select("n_triangles", "n_edges", "n_nodes", "n_wedges")
    )


@register(
    "q136_minhash_jaccard_error",
    oracle=f"""
    WITH sh AS ({_ORACLE_SHINGLES}),
    sig AS ({_ORACLE_SIG}),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
           round(abs(est_jaccard - exact_jaccard), 6) AS abs_err,
           round(abs(est_jaccard - exact_jaccard), 6) <= 0.354 AS within_2sigma
    FROM (
      SELECT doc_a, doc_b,
             len(list_filter(range(1, 9), i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) / 8.0
               AS est_jaccard,
             round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                   / len(list_distinct(list_concat(x.shingles, y.shingles))), 6) AS exact_jaccard
      FROM cand
      JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
      JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
    )
    """,
)
def q136_minhash_jaccard_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator accuracy audit — the sketch-with-checkable-bound
    pattern (q36/q134) applied to the dedup pipeline's own sketch: for
    every LSH candidate pair, the Jaccard ESTIMATE from the 8-entry MinHash
    signature (fraction of agreeing minima — the unbiased estimator the
    banding decision implicitly trusts) is laid beside the EXACT shingle
    Jaccard, with |error| and a within-2-sigma flag (sd <= sqrt(.25/8) ~
    0.177 for k=8, so 0.354 is the 2-sigma gate). A systematic breach
    means the signature stage is broken, not just unlucky. Runs on
    O(candidates) rows; signatures come from one Arrow-vectorized pass and
    the estimate is an integer-exact multiple of 1/8, so the hash compare
    is midpoint-free."""
    # signatures computed at FINGERPRINT grain (distinct texts) and
    # expanded through membership: identical shingle sets hash to
    # identical signatures, with the UDF running on |distinct texts|
    # rows instead of the corpus, twice
    members, _ = _sig_tables(spark, sf_dir)
    fp_sig = _fp_shingle_sets(spark, sf_dir).select(
        "fp",
        F.col("tok").alias("shingles"),
        D.minhash_sig_udf()(F.col("tok")).alias("sig"),
    )
    sh = members.join(fp_sig, "fp").select("doc_id", "shingles", "sig")
    cand = _lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    x, y = sh.alias("x"), sh.alias("y")
    agree = F.size(
        F.filter(
            F.zip_with(F.col("x.sig"), F.col("y.sig"), lambda p, q: p == q),
            lambda b: b,
        )
    )
    est = agree / F.lit(8.0)
    exact = F.round(D.jaccard(F.col("x.shingles"), F.col("y.shingles")), 6)
    err = F.round(F.abs(est - exact), 6)
    return (
        cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(y, F.col("y.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            err.alias("abs_err"),
            (err <= 0.354).alias("within_2sigma"),
        )
    )


# Named so the q171 ladder rollup can reuse the identical flagged-doc rule.
ORACLE_FUZZY_FLAGGED = f"""
    WITH sh AS ({_ORACLE_SHINGLES}),
    cand AS (
      SELECT a.doc_id AS train_id, b.doc_id AS eval_id
      FROM ({_ORACLE_BANDS}) a
      JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
      WHERE substr(md5(CAST(a.doc_id AS VARCHAR)), 1, 2) < 'f0'
        AND substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 2) >= 'f0'
      GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
      SELECT train_id, eval_id,
             round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                   / len(list_distinct(list_concat(x.shingles, y.shingles))), 6) AS jaccard
      FROM cand JOIN sh x ON x.doc_id = train_id JOIN sh y ON y.doc_id = eval_id
    )
    SELECT doc_id, n_eval_candidates, max_jaccard, matched_eval_id FROM (
      SELECT train_id AS doc_id,
             CAST(count(*) OVER (PARTITION BY train_id) AS BIGINT) AS n_eval_candidates,
             jaccard AS max_jaccard, eval_id AS matched_eval_id,
             row_number() OVER (PARTITION BY train_id ORDER BY jaccard DESC, eval_id ASC) AS rn
      FROM scored
    ) WHERE rn = 1 AND max_jaccard >= 0.5
    """


@register("q133_fuzzy_decontamination", oracle=ORACLE_FUZZY_FLAGGED)
def q133_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy train/eval decontamination — the MinHash-LSH companion to
    q106's exact n-gram check (the Llama/GPT-3-style near-match rule that
    catches paraphrased or lightly-edited eval leakage an exact gram miss
    would pass): band-join training docs against the held-out split (same
    md5-bucket >= 'f0' split as q106), exact-Jaccard-verify the candidates,
    and flag training docs whose best eval match reaches 0.5. Bipartite LSH
    keeps the join O(collisions): the eval side is benchmark-sized, so its
    band table broadcasts; training text never shuffles (bands and shingle
    digests move, text stays). Shares the q82 band table."""
    from pyspark.sql import Window

    from .sampling import hash_bucket

    bands = _bands(spark, sf_dir)
    is_eval = hash_bucket("doc_id") >= "f0"
    train_b = bands.filter(~is_eval).select(
        F.col("doc_id").alias("train_id"), "band_idx", "band_sig"
    )
    eval_b = bands.filter(is_eval).select(
        F.col("doc_id").alias("eval_id"), "band_idx", "band_sig"
    )
    cand = (
        train_b.join(F.broadcast(eval_b), ["band_idx", "band_sig"])
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("_nb"))
        .select("train_id", "eval_id")
    )
    sh = _doc_shingles(spark, sf_dir)
    x, y = sh.alias("x"), sh.alias("y")
    scored = (
        cand.join(x, F.col("x.doc_id") == F.col("train_id"))
        .join(y, F.col("y.doc_id") == F.col("eval_id"))
        .select(
            "train_id",
            "eval_id",
            F.round(D.jaccard(F.col("x.shingles"), F.col("y.shingles")), 6).alias("jaccard"),
        )
    )
    w = Window.partitionBy("train_id")
    wr = w.orderBy(F.col("jaccard").desc(), F.col("eval_id").asc())
    ranked = scored.select(
        F.col("train_id").alias("doc_id"),
        F.count(F.lit(1)).over(w).alias("n_eval_candidates"),
        F.col("jaccard").alias("max_jaccard"),
        F.col("eval_id").alias("matched_eval_id"),
        F.row_number().over(wr).alias("rn"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("max_jaccard") >= 0.5)).drop("rn")


@register(
    "q152_dedup_aware_shards",
    oracle=f"""
    WITH RECURSIVE
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand
      UNION
      SELECT doc_b AS s, doc_a AS d FROM cand
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, w.reach FROM edges e JOIN walk w ON w.node = e.d
    ),
    lab AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node)
    SELECT substr(md5(CAST(COALESCE(lab.cluster_id, d.doc_id) AS VARCHAR)), 1, 1)
             AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN lab.cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clustered_docs,
           CAST(count(DISTINCT lab.cluster_id) AS BIGINT) AS n_clusters
    FROM documents d LEFT JOIN lab ON d.doc_id = lab.doc_id
    GROUP BY shard
    """,
)
def q152_dedup_aware_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware shard assignment: every document shards by the md5 of
    its CLUSTER id (its own id when unclustered), so an entire near-dup
    family always lands in one shard — the layout that makes downstream
    per-shard dedup exact (no cross-shard duplicate survives by
    construction) and keeps canonical-selection jobs shard-local. The
    audit reports each of the 16 shards' population, how many of its
    docs belong to some near-dup cluster, and how many distinct
    clusters it holds; co-location is structural (the shard key IS the
    cluster id), which the oracle proves by replaying clustering as a
    recursive CTE and deriving the identical assignment.

    Scale posture: reuses the cached cluster-label table (the persisted
    assignment a production pipeline keeps beside its signature table);
    the label join is doc_id-keyed with a corpus-growing right side —
    left plain for AQE, the q112 discipline. The final aggregate is 16
    groups."""
    docs = load_table(spark, sf_dir, "documents")
    labels = _cluster_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    shard = F.substring(
        F.md5(F.coalesce(F.col("cluster_id"), F.col("doc_id")).cast("string")), 1, 1
    )
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .groupBy(shard.alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("cluster_id").isNotNull().cast("int"))
            .cast("bigint")
            .alias("n_clustered_docs"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
        )
    )


@register(
    "q157_cross_source_duplication",
    oracle="""
    WITH fp AS (
      SELECT DISTINCT source,
             md5(array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:8],
                                 ' ')) AS fp
      FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_leads
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def q157_cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication attribution: which pairs of sources share
    document LEADS (md5 of the first 8 tokens — the templated-opening /
    boilerplate-header key; full-text fingerprints are q63/q64's exact
    layer, and none cross sources in this corpus). A hot cell in this
    matrix is the forensic signal that two crawl sources mirror each
    other or share a template farm — the input to source-level dedup
    decisions that per-document dedup can't express.

    Determinism: md5 over a deterministic token slice; counts are exact
    integers.

    Scale posture: the distinct (source, fp) relation is one dedup
    shuffle of digest-sized rows; the pair join shuffles ON THE
    FINGERPRINT (never a source cross product), and each fp group emits
    at most |sources|^2/2 pairs — bounded by the source census, not the
    corpus. The census aggregate is |sources|^2 rows."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "source",
        F.md5(
            F.concat_ws(" ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 8))
        ).alias("fp"),
    ).distinct()
    a = fp.select(F.col("source").alias("source_a"), "fp")
    b = fp.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_leads"))
    )


# --- q168: LSH recall/precision audit on a bounded sample --------------------

_AUDIT_K = 200  # fixed sample size — bounded regardless of corpus scale
_AUDIT_TAU = 0.5  # exact-Jaccard threshold defining a true near-dup


@register(
    "q168_lsh_recall_audit",
    oracle=f"""
    WITH samp AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 2), doc_id
      LIMIT {_AUDIT_K}
    ),
    sh AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(regexp_split_to_array(trim(text),'\\s+')) - 1, 1)),
               i -> concat_ws(' ', regexp_split_to_array(trim(text),'\\s+')[i],
                              regexp_split_to_array(trim(text),'\\s+')[i+1],
                              regexp_split_to_array(trim(text),'\\s+')[i+2]))) AS shingles
      FROM samp
    ),
    truth AS MATERIALIZED (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM sh x JOIN sh y ON x.doc_id < y.doc_id
      WHERE len(list_distinct(list_concat(x.shingles, y.shingles))) > 0
        AND CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
            / len(list_distinct(list_concat(x.shingles, y.shingles)))
            >= {_AUDIT_TAU}
    ),
    cand AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
           AND a.doc_id < b.doc_id
      WHERE a.doc_id IN (SELECT doc_id FROM samp)
        AND b.doc_id IN (SELECT doc_id FROM samp)
      GROUP BY a.doc_id, b.doc_id
    ),
    caught AS (
      SELECT count(*) AS c FROM truth
      WHERE (doc_a, doc_b) IN (SELECT (doc_a, doc_b) FROM cand)
    )
    SELECT CAST((SELECT count(*) FROM samp) AS BIGINT) AS sample_docs,
           CAST((SELECT count(*) FROM truth) AS BIGINT) AS true_pairs,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS candidate_pairs,
           CAST((SELECT c FROM caught) AS BIGINT) AS caught_pairs,
           CAST((SELECT count(*) FROM truth) - (SELECT c FROM caught)
                AS BIGINT) AS missed_pairs,
           round((SELECT c FROM caught) * 1.0
                 / nullif((SELECT count(*) FROM truth), 0), 4) AS recall,
           round((SELECT c FROM caught) * 1.0
                 / nullif((SELECT count(*) FROM cand), 0), 4) AS precision
    """,
)
def q168_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision audit of the MinHash-LSH dedup stack (q82/q67)
    against exact ground truth on a FIXED {_AUDIT_K}-document hash-ordered
    sample: enumerate every pair inside the sample, score exact shingle
    Jaccard, call pairs ≥ {_AUDIT_TAU} true near-dups, and measure how
    many the production banding surfaces as candidates. This closes the
    measurement loop for text dedup the way q154 does for ANN: banding
    has a THEORETICAL s-curve (q136 audits the estimator's variance);
    this measures the operating point actually achieved on this corpus.

    Scale posture: ground truth is quadratic, so it runs on a sample
    whose size is an absolute constant ({_AUDIT_K} docs -> <=19,900 pairs),
    selected by hash order (TakeOrdered — deterministic, no full sort)
    regardless of corpus size; the all-pairs scoring is ONE
    applyInPandas group doing set ops at C speed. The candidate side
    reuses the full production band table, semi-joined down to the
    sample — auditing the real artifact, not a re-derivation."""
    import pandas as pd

    from ..operators.dedup import shingles_udf
    from .sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    samp = (
        docs.select("doc_id", "text", hash_bucket("doc_id").alias("hb"))
        .orderBy("hb", "doc_id")
        .limit(_AUDIT_K)
    )
    sh = samp.select("doc_id", shingles_udf()(F.col("text")).alias("shingles"))

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["doc_id"].tolist()
        sets = [set(s) for s in pdf["shingles"]]
        order = sorted(range(len(ids)), key=lambda i: ids[i])
        out_a, out_b = [], []
        for ii in range(len(order)):
            a = order[ii]
            for jj in range(ii + 1, len(order)):
                b = order[jj]
                union = len(sets[a] | sets[b])
                if union and len(sets[a] & sets[b]) / union >= _AUDIT_TAU:
                    out_a.append(ids[a])
                    out_b.append(ids[b])
        return pd.DataFrame({"doc_a": out_a, "doc_b": out_b})

    truth = sh.groupBy(F.lit(1).alias("g")).applyInPandas(
        lambda _k, pdf: pairs(pdf), "doc_a bigint, doc_b bigint"
    )
    ids = samp.select("doc_id")
    cand = (
        _lsh_pairs(spark, sf_dir)
        .join(ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        .select("doc_a", "doc_b")
    )
    caught = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    t = truth.agg(F.count(F.lit(1)).cast("bigint").alias("true_pairs"))
    c = cand.agg(F.count(F.lit(1)).cast("bigint").alias("candidate_pairs"))
    g = caught.agg(F.count(F.lit(1)).cast("bigint").alias("caught_pairs"))
    s = samp.agg(F.count(F.lit(1)).cast("bigint").alias("sample_docs"))
    return (
        s.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(g))
        .select(
            "sample_docs",
            "true_pairs",
            "candidate_pairs",
            "caught_pairs",
            (F.col("true_pairs") - F.col("caught_pairs")).alias("missed_pairs"),
            F.round(
                F.col("caught_pairs") / F.nullif(F.col("true_pairs"), F.lit(0)), 4
            ).alias("recall"),
            F.round(
                F.col("caught_pairs") / F.nullif(F.col("candidate_pairs"), F.lit(0)), 4
            ).alias("precision"),
        )
    )


# --- q172: dedup survivorship report -----------------------------------------


@register(
    "q172_dedup_survivorship",
    oracle=f"""
    WITH RECURSIVE
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand
      UNION
      SELECT doc_b AS s, doc_a AS d FROM cand
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, w.reach FROM edges e JOIN walk w ON w.node = e.d
    ),
    lab AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node)
    SELECT lab.cluster_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
           CAST(min(d.doc_id) AS BIGINT) AS canonical_doc,
           CAST(sum(d.n_chars) AS BIGINT) AS bytes_total,
           CAST(arg_min(d.n_chars, d.doc_id) AS BIGINT) AS bytes_kept,
           CAST(sum(d.n_chars) - arg_min(d.n_chars, d.doc_id) AS BIGINT)
             AS bytes_saved,
           round((sum(d.n_chars) - arg_min(d.n_chars, d.doc_id)) * 1.0
                 / sum(d.n_chars), 4) AS savings_frac
    FROM lab JOIN documents d ON d.doc_id = lab.doc_id
    GROUP BY lab.cluster_id
    ORDER BY lab.cluster_id
    """,
)
def q172_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship report: per near-dup cluster, what dedup actually
    buys — member count, source spread, the kept canonical (min doc_id,
    q90's rule), and bytes retired vs retained. This is the artifact that
    justifies the dedup pipeline's cost to its owners and feeds capacity
    planning (how much of each ingest is redundant mass); the per-cluster
    grain also exposes pathological families (one cluster spanning many
    sources = syndicated boilerplate, q157's signal at cluster grain).

    Scale posture: reuses the cached cluster-label table (the persisted
    assignment, |clustered docs| rows); one doc_id-keyed join against the
    corpus (label side corpus-growing -> left plain for AQE, q112
    discipline) and one cluster-keyed aggregation. The oracle replays
    clustering as the recursive reachability CTE, so the iterative stage
    stays value-checked end to end."""
    labels = _cluster_labels(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    j = labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")).join(
        docs, "doc_id"
    )
    kept = F.min_by("n_chars", "doc_id").cast("bigint")
    return (
        j.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").cast("bigint").alias("canonical_doc"),
            F.sum("n_chars").cast("bigint").alias("bytes_total"),
            kept.alias("bytes_kept"),
            (F.sum("n_chars") - kept).cast("bigint").alias("bytes_saved"),
            F.round(
                (F.sum("n_chars") - kept) / F.sum("n_chars").cast("double"), 4
            ).alias("savings_frac"),
        )
        .orderBy("cluster_id")
    )


# --- q173: incremental LSH index maintenance ---------------------------------

_INC_DELTA = "e0"  # docs with md5 bucket >= this are the "new arrivals"


@register(
    "q173_incremental_lsh_update",
    oracle=f"""
    WITH pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared_bands
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
           AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_shared_bands,
           CASE WHEN substr(md5(CAST(doc_a AS VARCHAR)), 1, 2) >= '{_INC_DELTA}'
                 AND substr(md5(CAST(doc_b AS VARCHAR)), 1, 2) >= '{_INC_DELTA}'
                THEN 'delta-delta' ELSE 'delta-base' END AS pair_kind
    FROM pairs
    WHERE substr(md5(CAST(doc_a AS VARCHAR)), 1, 2) >= '{_INC_DELTA}'
       OR substr(md5(CAST(doc_b AS VARCHAR)), 1, 2) >= '{_INC_DELTA}'
    ORDER BY doc_a, doc_b
    """,
)
def q173_incremental_lsh_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH index maintenance: when a delta of new documents
    arrives (md5 bucket >= '{_INC_DELTA}', ~12%), ONLY the delta pays the
    tokenize->shingle->minhash->band signature pass; every new candidate
    pair — delta-vs-base and delta-vs-delta — falls out of probing the
    delta's bands against the persisted band index, because a pair needs
    at least one new side to be new. The report is exactly the pairs a
    full recompute would add (the oracle computes the full join and
    filters to delta-involving pairs — identical output, quadratically
    more signature work). This is the contract that lets a 100 TB dedup
    index absorb daily ingest without re-signing the corpus: the q105
    exact-hash story lifted to the near-dup index.

    Scale posture: the base band table is the persisted index (cached
    here, as in q67); the delta bands are a separate pass over delta
    docs only; the probe join is band-digest-keyed. The union's
    delta-delta half stays inside the probe (delta bands join the full
    index, which contains them), so one join serves both pair kinds;
    orientation (doc_a < doc_b) plus the band group-by dedups."""
    docs = load_table(spark, sf_dir, "documents")
    from .sampling import hash_bucket

    is_delta = hash_bucket("doc_id") >= _INC_DELTA
    # persisted index: the full band table (base + already-absorbed deltas)
    index = _bands(spark, sf_dir)
    delta_b = D.explode_bands(docs.filter(is_delta), "doc_id").select(
        F.col("doc_id").alias("probe_id"), "band_idx", "band_sig"
    )
    hits = delta_b.join(index, ["band_idx", "band_sig"]).filter(
        F.col("probe_id") != F.col("doc_id")
    )
    oriented = hits.select(
        F.least("probe_id", "doc_id").alias("doc_a"),
        F.greatest("probe_id", "doc_id").alias("doc_b"),
        "band_idx",
    )
    pairs = (
        oriented.select("doc_a", "doc_b", "band_idx")
        .distinct()  # a delta-delta pair is probed from both sides
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_bands"))
    )
    both_delta = (hash_bucket("doc_a") >= _INC_DELTA) & (
        hash_bucket("doc_b") >= _INC_DELTA
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_shared_bands",
        F.when(both_delta, "delta-delta").otherwise("delta-base").alias("pair_kind"),
    ).orderBy("doc_a", "doc_b")


# --- q177: dedup-shard token-balance audit -----------------------------------


@register(
    "q177_shard_balance_audit",
    oracle=f"""
    WITH RECURSIVE
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand
      UNION
      SELECT doc_b AS s, doc_a AS d FROM cand
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, w.reach FROM edges e JOIN walk w ON w.node = e.d
    ),
    lab AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node),
    sharded AS (
      SELECT substr(md5(CAST(COALESCE(lab.cluster_id, d.doc_id) AS VARCHAR)), 1, 1)
               AS shard,
             len(regexp_split_to_array(trim(d.text), '\\s+')) AS toks
      FROM documents d LEFT JOIN lab ON d.doc_id = lab.doc_id
    ),
    per AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS tokens
      FROM sharded GROUP BY shard
    ),
    g AS (SELECT sum(tokens) AS t, avg(tokens) AS m,
                 stddev_pop(tokens) AS sd FROM per)
    SELECT shard, n_docs, tokens,
           round(tokens * 1.0 / (SELECT t FROM g), 4) AS token_share,
           round(tokens / (SELECT m FROM g), 4) AS vs_mean,
           round((SELECT sd FROM g) / (SELECT m FROM g), 4) AS shard_cv
    FROM per
    ORDER BY shard
    """,
)
def q177_shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass balance audit of the dedup-aware shard layout (q152):
    cluster-keyed sharding is exact for dedup but risks hot shards if a
    giant near-dup family lands on one key — this measures what the
    co-location guarantee costs in balance. Per shard: docs, tokens,
    share of corpus, deviation from the mean shard, and the global
    coefficient of variation — the number you watch before giving every
    shard the same executor budget (q118's skew report, applied to the
    layout the pipeline itself chose).

    Scale posture: reuses the cached cluster labels; one doc_id join +
    one 16-row aggregation; balance stats are a 1-row scalar broadcast
    back onto the 16 report rows."""
    from .sampling import hash_bucket  # noqa: F401 (shard rule documented)

    labels = _cluster_labels(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    j = docs.join(
        labels.select(F.col("node").alias("doc_id"), "label"), "doc_id", "left"
    )
    shard = F.substring(
        F.md5(F.coalesce(F.col("label"), F.col("doc_id")).cast("string")), 1, 1
    )
    per = (
        j.select(shard.alias("shard"), toks.alias("toks"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("tokens"),
        )
    )
    g = per.agg(
        F.sum("tokens").alias("t"),
        F.avg("tokens").alias("m"),
        F.stddev_pop("tokens").alias("sd"),
    )
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "shard",
            "n_docs",
            "tokens",
            F.round(F.col("tokens") / F.col("t"), 4).alias("token_share"),
            F.round(F.col("tokens") / F.col("m"), 4).alias("vs_mean"),
            F.round(F.col("sd") / F.col("m"), 4).alias("shard_cv"),
        )
        .orderBy("shard")
    )


# --- q178: near-dup cluster purity audit -------------------------------------

_PURITY_TAU = 0.5


@register(
    "q178_cluster_purity",
    oracle=f"""
    WITH RECURSIVE
    sh AS ({_ORACLE_SHINGLES}),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand
      UNION
      SELECT doc_b AS s, doc_a AS d FROM cand
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, w.reach FROM edges e JOIN walk w ON w.node = e.d
    ),
    lab AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node),
    scored AS (
      SELECT l.cluster_id,
             CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(x.shingles, y.shingles))) AS j
      FROM cand
      JOIN lab l ON l.doc_id = cand.doc_a
      JOIN sh x ON x.doc_id = cand.doc_a
      JOIN sh y ON y.doc_id = cand.doc_b
    )
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_scored_pairs,
           round(min(j), 4) AS min_jaccard,
           round(avg(j), 4) AS avg_jaccard,
           min(j) < {_PURITY_TAU} AS impure
    FROM scored
    GROUP BY cluster_id
    ORDER BY cluster_id
    """,
)
def q178_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster purity audit: connected components merge by
    TRANSITIVITY, so a chain a~b~c can glue documents that are not
    themselves similar — the classic LSH-chaining over-merge. Per
    cluster, score every candidate edge's exact shingle Jaccard and
    report the count, minimum, mean, and an impure flag (weakest edge
    below {_PURITY_TAU}) — the audit that decides whether cluster-level
    canonical selection (q90/q112) is safe or a cluster must be split
    before dedup drops its members. Closes the quality loop on q79 the
    way q168 closes it on q67's recall.

    Scale posture: reuses the cached band and label tables; edge scoring
    is q68's candidate-bounded join (O(candidates), never all pairs);
    the purity rollup groups by cluster id — |clusters| rows."""
    labels = _cluster_labels(spark, sf_dir)
    sh = _doc_shingles(spark, sf_dir)
    cand = _lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    x, y = sh.alias("x"), sh.alias("y")
    scored = (
        cand.join(labels.select(F.col("node").alias("doc_a"), "label"), "doc_a")
        .join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(y, F.col("y.doc_id") == F.col("doc_b"))
        .select(
            F.col("label").alias("cluster_id"),
            D.jaccard(F.col("x.shingles"), F.col("y.shingles")).alias("j"),
        )
    )
    return (
        scored.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored_pairs"),
            F.round(F.min("j"), 4).alias("min_jaccard"),
            F.round(F.avg("j"), 4).alias("avg_jaccard"),
            (F.min("j") < _PURITY_TAU).alias("impure"),
        )
        .orderBy("cluster_id")
    )


# --- q179: containment-based asymmetric near-dup -----------------------------

_CONT_TAU = 0.7


@register(
    "q179_containment_pairs",
    oracle=f"""
    WITH sh AS ({_ORACLE_SHINGLES}),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(x.shingles) AS BIGINT) AS n_shingles_a,
           CAST(len(y.shingles) AS BIGINT) AS n_shingles_b,
           round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                 / least(len(x.shingles), len(y.shingles)), 4) AS containment,
           round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(x.shingles, y.shingles))), 4)
             AS jaccard,
           CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
             / least(len(x.shingles), len(y.shingles)) >= {_CONT_TAU}
           AND CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(x.shingles, y.shingles)))
               < {_CONT_TAU} AS asymmetric_dup
    FROM cand
    JOIN sh x ON x.doc_id = doc_a
    JOIN sh y ON y.doc_id = doc_b
    WHERE len(x.shingles) > 0 AND len(y.shingles) > 0
    ORDER BY doc_a, doc_b
    """,
)
def q179_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment scoring of LSH candidates (Broder's resemblance vs
    containment distinction): containment |A∩B| / min(|A|, |B|) catches
    the SUBSET case Jaccard is blind to — a short document embedded
    whole inside a long one scores near-zero Jaccard (the union is huge)
    but containment ~1. Pairs flagged asymmetric_dup (containment >=
    {_CONT_TAU}, Jaccard < {_CONT_TAU}) are quote-or-wrapper
    relationships: exactly the boilerplate-wrapped reposts and
    quoted-in-full chains that survive resemblance-threshold dedup and
    leak near-identical text into training.

    Scale posture: identical to q68 — scoring runs on O(candidates)
    rows only, shingle sets attach by doc_id equi-joins (AQE chooses),
    nothing all-pairs. Note the candidate set itself is MinHash-based
    (tuned for resemblance), so recall for extreme containment at tiny
    Jaccard is bounded by banding — the docstring caveat a production
    deployment answers with a suffix-based second pass (q142)."""
    # cached-set attach (no UDF in this plan) also retires a plan defect:
    # the (na > 0) filter below used to be pushed beneath the shingle
    # projection and re-evaluated the whole corpus tokenize pass a second
    # time per join side (2x ArrowEvalPython per side in the r13 before-plan)
    sh = _doc_shingles(spark, sf_dir)
    cand = _lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    x, y = sh.alias("x"), sh.alias("y")
    na = F.size(F.col("x.shingles")).cast("double")
    nb = F.size(F.col("y.shingles")).cast("double")
    inter = F.size(F.array_intersect(F.col("x.shingles"), F.col("y.shingles"))).cast(
        "double"
    )
    union = F.size(F.array_union(F.col("x.shingles"), F.col("y.shingles"))).cast(
        "double"
    )
    cont = inter / F.least(na, nb)
    jac = inter / union
    return (
        cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(y, F.col("y.doc_id") == F.col("doc_b"))
        .filter((na > 0) & (nb > 0))
        .select(
            "doc_a",
            "doc_b",
            na.cast("bigint").alias("n_shingles_a"),
            nb.cast("bigint").alias("n_shingles_b"),
            F.round(cont, 4).alias("containment"),
            F.round(jac, 4).alias("jaccard"),
            ((cont >= _CONT_TAU) & (jac < _CONT_TAU)).alias("asymmetric_dup"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --- q195: LSH band-population audit -----------------------------------------

_ORACLE_FP_REPS = """
  SELECT md5(text) AS fp, first(text) AS text
  FROM documents GROUP BY md5(text)
"""

_ORACLE_FP_BANDS = f"""
  SELECT fp, generate_subscripts(b, 1) - 1 AS band_idx, unnest(b) AS band_sig
  FROM (
    SELECT fp, list_transform(range(0, 4), b -> md5(concat(sig[2*b+1], sig[2*b+2]))) AS b
    FROM (
      SELECT fp,
             list_transform(range(0, 8), seed ->
               list_aggregate(list_transform(shingles, s ->
                 md5(concat(CAST(seed AS VARCHAR), '|', s))), 'min')) AS sig
      FROM (
        SELECT fp,
               list_distinct(list_transform(range(1, greatest(len(regexp_split_to_array(trim(text),'\\s+')) - 1, 1)),
                 i -> concat_ws(' ', regexp_split_to_array(trim(text),'\\s+')[i],
                                regexp_split_to_array(trim(text),'\\s+')[i+1],
                                regexp_split_to_array(trim(text),'\\s+')[i+2]))) AS shingles
        FROM ({_ORACLE_FP_REPS})
      )
    )
  )
"""


@register(
    "q195_band_population_audit",
    oracle=f"""
    WITH mc AS (
      SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY md5(text)
    ),
    buckets AS (
      SELECT band_idx,
             CAST(count(*) AS BIGINT) AS n_fps,
             CAST(sum(cnt) AS BIGINT) AS n_docs
      FROM ({_ORACLE_FP_BANDS}) fb JOIN mc USING (fp)
      WHERE band_sig IS NOT NULL
      GROUP BY band_idx, band_sig
    )
    SELECT band_idx,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(n_fps) AS BIGINT) AS max_bucket_fps,
           CAST(max(n_docs) AS BIGINT) AS max_bucket_docs,
           CAST(sum((n_fps * (n_fps - 1)) // 2) AS BIGINT) AS pair_budget
    FROM buckets GROUP BY band_idx ORDER BY band_idx
    """,
)
def q195_band_population_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-population audit — the monitoring hook behind the exact-dup
    pre-collapse: per band, the bucket count, the hottest bucket's
    distinct-text and document populations, and the candidate PAIR BUDGET
    (sum over buckets of C(n_fps, 2)) that the band self-join will emit.
    Exact floods never appear here (they are one fingerprint by
    construction); what this catches is the NEAR-identical flood — a
    template family whose members tie on some band — where a growing
    max_bucket_fps / pair_budget says band-width pressure is building.
    Candidate generation no longer needs a human for the first response:
    over-BUCKET_CAP buckets escalate automatically to fused double-width
    bands (operators/dedup.py fp_candidate_pairs), and only level-2
    residuals are withheld; this audit plus the residual census are the
    monitoring halves of that flood defense.

    Scale posture: one aggregation of the (cached) fingerprint band table
    keyed by (band_idx, band_sig) — digest-keyed, map-side combined —
    then a |bands|-row rollup. Nothing touches text."""
    members, fp_bands = _sig_tables(spark, sf_dir)
    mc = members.groupBy("fp").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    buckets = (
        fp_bands.filter(F.col("band_sig").isNotNull())
        .join(mc, "fp")
        .groupBy("band_idx", "band_sig")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fps"),
            F.sum("cnt").cast("bigint").alias("n_docs"),
        )
    )
    return (
        buckets.groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("n_fps").cast("bigint").alias("max_bucket_fps"),
            F.max("n_docs").cast("bigint").alias("max_bucket_docs"),
            F.sum(F.expr("(n_fps * (n_fps - 1)) div 2")).cast("bigint").alias("pair_budget"),
        )
        .orderBy("band_idx")
    )


# --- q202: near-dup split leakage audit ----------------------------------------


@register(
    "q202_near_dup_split_leakage",
    oracle=f"""
    WITH RECURSIVE
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand
      UNION
      SELECT doc_b AS s, doc_a AS d FROM cand
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, w.reach FROM edges e JOIN walk w ON w.node = e.d
    ),
    lab AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node),
    tagged AS (
      SELECT cluster_id, doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d' THEN 'test'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'val'
                  ELSE 'train' END AS split
      FROM lab
    )
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
           string_agg(DISTINCT split, ',' ORDER BY split) AS splits,
           CAST(sum(CASE WHEN split <> 'train' THEN 1 ELSE 0 END) AS BIGINT)
             AS eval_members
    FROM tagged
    GROUP BY cluster_id
    HAVING count(DISTINCT split) > 1
    ORDER BY cluster_id
    """,
)
def q202_near_dup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup split leakage: duplicate clusters (q79's LSH connected
    components) whose members straddle the q77 train/val/test hash split —
    eval rows with a near-duplicate in train are contamination the
    exact-fingerprint audit (q161) cannot see, because near-dups differ in
    bytes. Emits each straddling cluster with its member count, the splits
    it touches, and how many members sit in eval splits (the leaked mass a
    cluster-atomic split assignment would retire). The remedy is q161's
    content-keyed rule applied at CLUSTER grain: hash the cluster id, not
    the doc id.

    Scale posture: reuses the cached cluster-label table (|clustered docs|
    rows); split assignment is a map-side md5 of the id; one cluster-keyed
    aggregation. The oracle replays clustering as the recursive CTE, so
    the whole composition is value-checked."""
    labels = _cluster_labels(spark, sf_dir)
    h2 = F.substring(F.md5(F.col("node").cast("string")), 1, 2)
    split = (
        F.when(h2 < "0d", "test").when(h2 < "1a", "val").otherwise("train")
    )
    tagged = labels.select(
        F.col("label").alias("cluster_id"),
        F.col("node").alias("doc_id"),
        split.alias("split"),
    )
    return (
        tagged.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.countDistinct("split").cast("bigint").alias("n_splits"),
            F.array_join(F.array_sort(F.collect_set("split")), ",").alias("splits"),
            F.sum((F.col("split") != "train").cast("int")).cast("bigint").alias(
                "eval_members"
            ),
        )
        .filter(F.col("n_splits") > 1)
        .orderBy("cluster_id")
    )


# --- q203: duplicate-aware sampling weights -------------------------------------


@register(
    "q203_dedup_weighted_mass",
    oracle=f"""
    WITH RECURSIVE
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand
      UNION
      SELECT doc_b AS s, doc_a AS d FROM cand
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, w.reach FROM edges e JOIN walk w ON w.node = e.d
    ),
    lab AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node),
    size AS (SELECT cluster_id, count(*) AS csize FROM lab GROUP BY cluster_id),
    w AS (
      SELECT d.doc_id, d.source,
             CASE WHEN csize IS NULL THEN 1.0 ELSE 1.0 / csize END AS wt,
             CASE WHEN csize IS NULL THEN 0 ELSE 1 END AS clustered
      FROM documents d
      LEFT JOIN lab USING (doc_id) LEFT JOIN size USING (cluster_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(clustered) AS BIGINT) AS clustered_docs,
           round(sum(wt), 4) AS effective_docs,
           round(1.0 - sum(wt) / count(*), 4) AS dedup_discount
    FROM w GROUP BY source ORDER BY source
    """,
)
def q203_dedup_weighted_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware sampling weights — the SOFT alternative to hard
    dedup (q90 keeps one doc per cluster; this keeps them all at weight
    1/cluster_size, the standard repetition-discount for training
    mixtures): per source, raw vs EFFECTIVE document mass and the dedup
    discount — how much of the source's apparent volume is duplicate
    inflation. Feeding effective_docs (not n_docs) into the q113 mixture
    planner stops boilerplate-heavy sources from buying sampling budget
    with copies.

    Scale posture: reuses the cached cluster-label table; cluster sizes
    are one |clusters|-row aggregate; the weight attach is a doc_id-keyed
    left join (label side corpus-growing, left to AQE) and the rollup is
    keyed by the bounded source dimension."""
    docs = load_table(spark, sf_dir, "documents")
    # csize is a cached column of the sized label table — no re-aggregation
    lab = _cluster_labels_sized(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("cluster_size").alias("csize")
    )
    w = docs.select("doc_id", "source").join(lab, "doc_id", "left").select(
        "source",
        F.when(F.col("csize").isNull(), F.lit(1.0))
        .otherwise(1.0 / F.col("csize"))
        .alias("wt"),
        F.when(F.col("csize").isNull(), 0).otherwise(1).alias("clustered"),
    )
    return (
        w.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("clustered").cast("bigint").alias("clustered_docs"),
            F.round(F.sum("wt"), 4).alias("effective_docs"),
            F.round(1.0 - F.sum("wt") / F.count(F.lit(1)), 4).alias("dedup_discount"),
        )
        .orderBy("source")
    )


# --- q211: LSH band-width planner --------------------------------------------

# Candidate (bands x rows) splits of the 8-hash MinHash signature. The
# S-curve P(candidate | jaccard=j) = 1 - (1 - j^r)^b steepens around
# (1/b)^(1/r); more rows per band -> fewer, higher-precision candidates —
# exactly the move the automated BUCKET_CAP escalation applies to over-cap
# buckets (operators/dedup.py fp_candidate_pairs: 4x2 -> 2x4 fused bands).
_PLANNER_CONFIGS = ((8, 1), (4, 2), (2, 4), (1, 8))


@register(
    "q211_lsh_band_planner",
    oracle=f"""
    WITH sh AS ({_ORACLE_SHINGLES}),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    j AS (
      SELECT round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                   / len(list_distinct(list_concat(x.shingles, y.shingles))), 6) AS jaccard
      FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
    ),
    cfg AS (SELECT * FROM (VALUES {", ".join(f"({b}, {r})" for b, r in _PLANNER_CONFIGS)})
            AS t(n_bands, n_rows)),
    scored AS (
      SELECT n_bands, n_rows, jaccard,
             1.0 - power(1.0 - power(jaccard, n_rows), n_bands) AS p,
             CASE WHEN jaccard >= {_AUDIT_TAU} THEN 1 ELSE 0 END AS is_true
      FROM j, cfg
    )
    SELECT CAST(n_bands AS INT) AS n_bands, CAST(n_rows AS INT) AS n_rows,
           round(power(1.0 / n_bands, 1.0 / n_rows), 4) AS threshold_j50,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(sum(p), 4) AS exp_candidates,
           CAST(sum(is_true) AS BIGINT) AS n_true,
           round(sum(CASE WHEN is_true = 1 THEN p ELSE 0 END), 4) AS exp_caught,
           round(sum(CASE WHEN is_true = 1 THEN p ELSE 0 END)
                 / nullif(CAST(sum(is_true) AS DOUBLE), 0), 4) AS exp_recall,
           round(sum(CASE WHEN is_true = 1 THEN p ELSE 0 END)
                 / nullif(sum(p), 0), 4) AS exp_precision
    FROM scored GROUP BY n_bands, n_rows ORDER BY n_bands DESC
    """,
)
def q211_lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH (bands x rows) configuration planner from MEASURED pair
    similarity: for every split of the 8-hash signature, score the S-curve
    collision probability p(j) = 1 - (1 - j^r)^b against the verified
    Jaccard of the observed candidate pairs and report, per config, the
    S-curve midpoint, expected candidate volume, expected true-pair
    capture, and the implied recall/precision trade. This is the decision
    table behind the BUCKET_CAP escalation ladder ("raise the band width"),
    which fp_candidate_pairs now applies AUTOMATICALLY to over-cap buckets
    (4 x 2 -> fused 2 x 4); this query quantifies what that move costs in
    recall and buys in volume, and what a further corpus-wide move would.

    Honesty bound: the pair universe is the CURRENT config's candidate
    set — pairs invisible to 4 x 2 banding cannot be measured without an
    all-pairs pass, so the wider configs' candidate estimates are lower
    bounds (stated, not hidden; the sampled-recall audit q168 covers the
    blind spot from the other side).

    Scale posture: reuses the cached signature tables; scoring is a 4-way
    Generate over the O(candidates) verified-pair table, grouped to 4
    rows — no new corpus pass, no join."""
    jp = q68_jaccard_verify(spark, sf_dir)
    cfg = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("n_bands"), F.lit(r).alias("n_rows")
                )
                for b, r in _PLANNER_CONFIGS
            ]
        )
    ).alias("cfg")
    e = jp.select("jaccard", cfg).select("jaccard", "cfg.*")
    p = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(F.col("jaccard"), F.col("n_rows")), F.col("n_bands")
    )
    scored = e.select(
        "n_bands",
        "n_rows",
        p.alias("p"),
        (F.col("jaccard") >= _AUDIT_TAU).cast("int").alias("is_true"),
    )
    caught = F.sum(F.when(F.col("is_true") == 1, F.col("p")).otherwise(0.0))
    return (
        scored.groupBy("n_bands", "n_rows")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.sum("p"), 4).alias("exp_candidates"),
            F.sum("is_true").cast("bigint").alias("n_true"),
            F.round(caught, 4).alias("exp_caught"),
            F.round(
                caught / F.nullif(F.sum("is_true").cast("double"), F.lit(0.0)), 4
            ).alias("exp_recall"),
            F.round(caught / F.nullif(F.sum("p"), F.lit(0.0)), 4).alias(
                "exp_precision"
            ),
        )
        .withColumn(
            "threshold_j50",
            F.round(
                F.pow(F.lit(1.0) / F.col("n_bands"), F.lit(1.0) / F.col("n_rows")),
                4,
            ),
        )
        .orderBy(F.col("n_bands").desc())
    )


# --- q214: cluster transitivity audit ----------------------------------------

# An edge below this verified Jaccard inside a formed cluster marks the
# cluster as chain-merged: two dissimilar documents glued together through
# intermediate near-dups — the classic false-merge mode of CC-based dedup.
_WEAK_EDGE_TAU = 0.3


@register(
    "q214_cluster_transitivity_audit",
    oracle=f"""
    WITH RECURSIVE
    sh AS ({_ORACLE_SHINGLES}),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    j AS (
      SELECT doc_a, doc_b,
             round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                   / len(list_distinct(list_concat(x.shingles, y.shingles))), 6) AS jaccard
      FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand
      UNION
      SELECT doc_b AS s, doc_a AS d FROM cand
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, w.reach FROM edges e JOIN walk w ON w.node = e.d
    ),
    lab AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node),
    sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id),
    ej AS (SELECT l.cluster_id, j.jaccard FROM j JOIN lab l ON l.doc_id = j.doc_a)
    SELECT cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_edges,
           round(count(*) / (cluster_size * (cluster_size - 1) / 2.0), 4)
             AS edge_density,
           min(jaccard) AS min_edge_jaccard,
           round(avg(jaccard), 4) AS mean_edge_jaccard,
           (min(jaccard) < {_WEAK_EDGE_TAU}) AS weak_link
    FROM ej JOIN sz USING (cluster_id)
    GROUP BY cluster_id, cluster_size ORDER BY cluster_id
    """,
)
def q214_cluster_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-merge audit of the dedup clusters: connected components are
    TRANSITIVE, so A~B~C clusters A with C even when A and C share almost
    nothing — removing "duplicates" that aren't. Per formed cluster this
    reports size, verified-edge count, edge density against the C(size, 2)
    clique bound, and the min/mean verified Jaccard over its candidate
    edges; `weak_link` flags clusters glued through an edge below
    {_WEAK_EDGE_TAU} — the review queue before a destructive canonical-
    only keep (q90). Low density + low min on a large cluster is the
    template-chain signature; density 1.0 with high min is a true clique.

    Scale posture: reuses the cached label and signature tables; the edge
    audit joins O(candidates) verified pairs to the |clustered docs| label
    table (digest/id keys, corpus-growing sides left to AQE) and folds per
    cluster — work bounded by the candidate set, the q68 contract."""
    j = q68_jaccard_verify(spark, sf_dir)
    # cluster_size is functionally dependent on label (a cached column of
    # the sized label table), so grouping by the pair replaces the r12
    # shape's separate size aggregate + join-back.
    labels = _cluster_labels_sized(spark, sf_dir)
    ej = j.join(
        labels.select(F.col("node").alias("doc_a"), "label", "cluster_size"),
        "doc_a",
    )
    agg = ej.groupBy("label", "cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.min("jaccard").alias("min_edge_jaccard"),
        F.round(F.avg("jaccard"), 4).alias("mean_edge_jaccard"),
    )
    pairs_bound = (
        F.col("cluster_size") * (F.col("cluster_size") - 1) / 2.0
    )
    return (
        agg.select(
            F.col("label").alias("cluster_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            "n_edges",
            F.round(F.col("n_edges") / pairs_bound, 4).alias("edge_density"),
            "min_edge_jaccard",
            "mean_edge_jaccard",
            (F.col("min_edge_jaccard") < _WEAK_EDGE_TAU).alias("weak_link"),
        )
        .orderBy("cluster_id")
    )


# --- q222: prefix-filtered exact similarity join -----------------------------

# Shingle-set Jaccard threshold for the exact similarity join — the same
# 3-gram sets and tau the LSH verify stage (q68) scores, so this operator is
# the exact-recall ground truth for that pipeline. Prefix length for a set
# of size s is s - ceil(tau*s) + 1 under the global rarest-first order: any
# pair with J >= tau has overlap o >= tau*max(|A|,|B|), so a true pair's
# common shingles cannot all hide in either suffix — each side's prefix
# holds at least one element of the OTHER side's full set — and in fact a
# qualifying pair's PREFIXES must intersect each other (the PPJoin lemma,
# see the q222 docstring), so candidates come from joining prefix shingles
# against prefix shingles; prefixes hold the RAREST shingles, so the join
# stays small even where shingle df is high (AllPairs, Bayardo et al.
# 2007; PPJoin, Xiao et al. 2008).
# SHINGLE sets, not token sets: on a small shared vocabulary token-set
# Jaccard degenerates (nearly every pair clears 0.5 and the true output is
# a corpus-sized clique); 3-gram shingles keep the output the actual
# near-dup pairs.
_PFX_TAU = 0.5

# (fp, tok, n_docs) — the distinct-text shingle-SET table, the third
# materialization point of the dedup pipeline (bands for candidate
# generation, labels for clusters, sets for exact verification). Cached per
# (applicationId, corpus) like _SIG_CACHE: q222 reads it from three plan
# branches (postings + both verify sides), and without the cache each
# branch re-shuffles the corpus text through collapse_exact and re-runs the
# Arrow shingle pass. Evicted with the other caches by clear_bands_cache.
_FP_SHINGLES_CACHE: dict[tuple[str, str], DataFrame] = {}


def _fp_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _FP_SHINGLES_CACHE if k[0] != app_id]:
        del _FP_SHINGLES_CACHE[k]
    key = (app_id, sf_dir)
    df = _FP_SHINGLES_CACHE.get(key)
    if df is None:
        docs = load_table(spark, sf_dir, "documents")
        members, rep_texts = D.collapse_exact(docs, "doc_id")
        counts = members.groupBy("fp").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs")
        )
        # Arrow-batched shingles (the q68 form), not the column expression:
        # the higher-order transform evaluates interpreted per shingle
        df = (
            rep_texts.select("fp", D.shingles_udf()(F.col("text")).alias("tok"))
            .join(counts, "fp")
            .cache()
        )
        _FP_SHINGLES_CACHE[key] = df
    return df


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles): DOC-grain 3-gram shingle sets, derived by
    expanding the cached fingerprint-grain sets through exact-dup
    membership — byte-identical texts have byte-identical shingle sets,
    so this reproduces ``spread(docs).select(shingles_udf(text))`` exactly
    while tokenizing only DISTINCT texts once per session instead of the
    whole corpus once per consumer (q68/q133/q136/q178/q179 each ran the
    full Arrow tokenize pass twice, once per join side)."""
    members, _ = _sig_tables(spark, sf_dir)
    reps = _fp_shingle_sets(spark, sf_dir)
    return members.join(
        reps.select("fp", F.col("tok").alias("shingles")), "fp"
    ).select("doc_id", "shingles")


@register(
    "q222_prefix_filter_join",
    oracle=f"""
    WITH reps AS (
      SELECT md5(text) AS fp, text, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY md5(text), text
    ),
    sh AS (
      SELECT fp, n_docs,
             list_distinct(list_transform(range(1, greatest(len(regexp_split_to_array(trim(text),'\\s+')) - 1, 1)),
               i -> concat_ws(' ', regexp_split_to_array(trim(text),'\\s+')[i],
                              regexp_split_to_array(trim(text),'\\s+')[i+1],
                              regexp_split_to_array(trim(text),'\\s+')[i+2]))) AS tok
      FROM reps
    ),
    post AS (SELECT fp, unnest(tok) AS token FROM sh),
    cand AS (
      SELECT a.fp AS fp_a, b.fp AS fp_b
      FROM post a JOIN post b ON a.token = b.token AND a.fp < b.fp
      GROUP BY a.fp, b.fp
    )
    SELECT fp_a, fp_b,
           round(CAST(len(list_intersect(x.tok, y.tok)) AS DOUBLE)
                 / len(list_distinct(list_concat(x.tok, y.tok))), 6) AS jaccard,
           x.n_docs AS n_docs_a, y.n_docs AS n_docs_b,
           x.n_docs * y.n_docs AS n_doc_pairs
    FROM cand JOIN sh x ON x.fp = fp_a JOIN sh y ON y.fp = fp_b
    WHERE CAST(len(list_intersect(x.tok, y.tok)) AS DOUBLE)
          / len(list_distinct(list_concat(x.tok, y.tok))) >= {_PFX_TAU}
    ORDER BY fp_a, fp_b
    """,
)
def q222_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (3-gram shingle Jaccard >=
    {_PFX_TAU}) via prefix filtering — the AllPairs discipline, the
    exact-guarantee complement to MinHash-LSH: q67 trades false negatives
    for speed and q168 SAMPLES recall; this returns EVERY qualifying pair,
    with the pruning coming from a theorem instead of a hash, so it is
    the full-recall ground truth for the banded pipeline at the exact
    q68 similarity (same shingle sets, same tau). Each distinct text
    emits only its first s - ceil(tau*s) + 1 shingles (global
    rarest-first order) as probes; candidates are probe x probe joins
    (prefix vs prefix — the PPJoin lemma proved under "Scale posture").
    A qualifying pair's overlap is >= tau*max(|A|,|B|), so its
    common shingles cannot all sit in a suffix — completeness is
    guaranteed, verified by the oracle's naive any-shared-shingle form
    and a hypothesis property vs a quadratic all-pairs scan. Exact
    Jaccard then verifies candidates (O(candidates) array math).

    The relation is FINGERPRINT-grained (the round-6 exact-dup collapse
    discipline): byte-identical documents share shingle sets, so a
    boilerplate flood would make a doc-grained output quadratic in copy
    count while adding zero information — each row carries both sides'
    member counts and the implied doc-pair mass instead; within-
    fingerprint (identical) mass is q64's exact-dup surface.

    Scale posture: candidates come from a PREFIX x PREFIX join — the
    PPJoin refinement of AllPairs (Xiao et al. 2008): if J(A,B) >= tau
    then the tau-prefixes of A and B under ONE global order must share a
    token (proof: with per-pair overlap bound o = ceil(tau*max(|A|,|B|))
    and prefix ends a_end <= b_end, any common token in A's prefix is a
    B-element <= b_end and hence inside B's prefix; if NO common token
    sits in A's prefix, all o common tokens hide in A's suffix of size
    o - 1 — contradiction). Probing prefixes against prefixes instead of
    full posting lists cuts candidate volume quadratically on hot
    shingles (measured 510k -> 310k pairs at sf0.1 together with the size
    filter below; the verify stage was >half the query). A SIZE filter
    drops candidates with min(|A|,|B|) < tau*max(|A|,|B|) before any
    array moves (J >= tau forces size ratio >= tau). Remaining mechanics:
    the global rarest-first order attaches token df via a count() window
    OVER THE TOKEN PARTITIONING — same exchange the ranking needs anyway,
    where the old groupBy + join-back shuffled the postings twice more
    (and its shuffle_hash'd df table is gone entirely: nothing is
    broadcast, so the vocabulary-outgrows-the-driver cliff measured at
    sf6.4 cannot return). The tiny ranked-prefix table (half the
    postings, 3 narrow columns) is pinned with a lazy localCheckpoint:
    the self-join would otherwise execute the explode + both windows
    once PER SIDE. Two round-10 scale fixes kept from the measured
    sf0.1->sf1 exponent (1.40 before, ~0.5 after; 85 s -> 10 s at sf1):
    (a) shingles are xxhash64-collapsed to int64 BEFORE all set
    machinery — the posting explode, the rank window sort, the candidate
    join and the verify arrays all move 8-byte longs instead of ~25-byte
    strings (the 64-bit space makes a Jaccard-changing collision
    vanishingly unlikely at any realistic corpus, the standard
    shingle-sketch contract); (b) the candidate->arrays verify joins
    carry a SHUFFLE_HASH hint — once the fingerprint table outgrows the
    broadcast threshold Catalyst falls back to SortMergeJoin and SORTS
    millions of candidate rows with kilobyte array payloads attached;
    hashed relocation needs no order and was the whole super-linear
    term."""
    from pyspark.sql.window import Window

    reps = _fp_shingle_sets(spark, sf_dir).withColumn(
        "tok_h", F.transform("tok", lambda x: F.xxhash64(x))
    )
    post = reps.select(
        "fp", F.size("tok_h").alias("s"), F.explode("tok_h").alias("token")
    )
    wt = Window.partitionBy("token")
    wd = Window.partitionBy("fp").orderBy("tdf", "token")
    ranked = post.withColumn("tdf", F.count(F.lit(1)).over(wt)).withColumn(
        "rk", F.row_number().over(wd)
    )
    prefix_len = F.col("s") - F.ceil(F.lit(_PFX_TAU) * F.col("s")) + 1
    probes = (
        ranked.filter(F.col("rk") <= prefix_len)
        .select("token", "fp", "s")
        .localCheckpoint(eager=False)
    )
    other = probes.select(
        "token", F.col("fp").alias("fp_o"), F.col("s").alias("s_o")
    )
    cand = (
        probes.join(other, "token")
        .filter(F.col("fp") != F.col("fp_o"))
        .filter(
            F.least("s", "s_o").cast("double")
            >= F.lit(_PFX_TAU) * F.greatest("s", "s_o")
        )
        .select(
            F.least("fp", "fp_o").alias("fp_a"),
            F.greatest("fp", "fp_o").alias("fp_b"),
        )
        .distinct()
    )
    x = reps.select(
        F.col("fp").alias("fp_a"),
        F.col("tok_h").alias("tok_a"),
        F.col("n_docs").alias("n_docs_a"),
    )
    y = reps.select(
        F.col("fp").alias("fp_b"),
        F.col("tok_h").alias("tok_b"),
        F.col("n_docs").alias("n_docs_b"),
    )
    j = (
        F.size(F.array_intersect("tok_a", "tok_b")).cast("double")
        / F.size(F.array_union("tok_a", "tok_b"))
    )
    return (
        cand.join(x.hint("shuffle_hash"), "fp_a")
        .join(y.hint("shuffle_hash"), "fp_b")
        .filter(j >= _PFX_TAU)
        .select(
            "fp_a",
            "fp_b",
            F.round(j, 6).alias("jaccard"),
            "n_docs_a",
            "n_docs_b",
            (F.col("n_docs_a") * F.col("n_docs_b")).alias("n_doc_pairs"),
        )
        .orderBy("fp_a", "fp_b")
    )


# --- q225: duplication growth curve ------------------------------------------


@register(
    "q225_dedup_growth_curve",
    oracle="""
    WITH d AS (
      SELECT md5(text) AS fp,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                  AS BIGINT) * 10 // 256 AS decile
      FROM documents
    ),
    per_doc AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY decile
    ),
    firsts AS (SELECT fp, min(decile) AS first_decile FROM d GROUP BY fp),
    per_new AS (
      SELECT first_decile AS decile, CAST(count(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY first_decile
    ),
    curve AS (
      SELECT p.decile, p.n_docs, COALESCE(n.n_new, 0) AS n_new,
             SUM(p.n_docs) OVER w AS cum_docs,
             SUM(COALESCE(n.n_new, 0)) OVER w AS cum_distinct
      FROM per_doc p LEFT JOIN per_new n ON p.decile = n.decile
      WINDOW w AS (ORDER BY p.decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT decile, n_docs, n_new,
           CAST(cum_docs AS BIGINT) AS cum_docs,
           CAST(cum_distinct AS BIGINT) AS cum_distinct,
           round(1.0 - CAST(n_new AS DOUBLE) / n_docs, 6)
             AS marginal_dup_rate,
           round(1.0 - CAST(cum_distinct AS DOUBLE) / cum_docs, 6)
             AS cum_dup_rate
    FROM curve
    ORDER BY decile
    """,
)
def q225_dedup_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication growth curve: how the exact-duplicate rate scales with
    corpus size. Docs are assigned to 10 hash-order deciles of md5(doc_id)
    — a deterministic stand-in for "the order the corpus was collected" —
    and each distinct text is charged to the FIRST decile it appears in,
    so the cumulative rows replay dedup over every 10%-growth prefix in a
    single pass instead of 10 scans. A marginal rate that climbs with
    prefix size is the planning signal that duplication grows
    superlinearly (shared boilerplate accumulating cross-source) and dedup
    capacity must be provisioned ahead of corpus growth.

    Scale posture: ONE corpus-sized HashAggregate — the (fp, decile)
    census, digest-keyed (32-char md5 shuffle key, map-side combined)
    and materialized once via lazy localCheckpoint so docs-per-decile
    and first-decile-per-fingerprint both read it instead of re-scanning
    the text (plan-pinned: the downstream plan has no parquet scan).
    Everything further — the left join, the running sums, the rates —
    operates on the 10-row decile frame (the unpartitioned windows are
    allowlisted with that bound). The corpus text is never moved, only
    its digest. Determinism: decile
    arithmetic is exact integer hex math, identical in both engines
    (q75's idiom); counts are bigints; rates are exact-ratio rounding.
    Reference: no dedup surface — §7 Phase-3 extension beside q216's
    sampled estimator (this is the exact, prefix-resolved curve)."""
    docs = load_table(spark, sf_dir, "documents")
    decile = F.floor(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
        ).cast("bigint")
        * 10
        / 256
    ).alias("decile")
    d = docs.select(F.md5("text").alias("fp"), decile)
    # One corpus pass: the (fp, decile) census is the sole corpus-sized
    # aggregate, materialized once (lazy localCheckpoint — without it
    # Catalyst merges each branch's re-aggregation INTO the census,
    # producing two independent corpus scans; the checkpoint pins the
    # digest-narrow census as the shared read point).
    g = (
        d.groupBy("fp", "decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    per_doc = g.groupBy("decile").agg(F.sum("n").cast("bigint").alias("n_docs"))
    per_new = (
        g.groupBy("fp")
        .agg(F.min("decile").alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    )
    w = (
        Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = (
        per_doc.join(per_new, "decile", "left")
        .withColumn("n_new", F.coalesce("n_new", F.lit(0)))
        .select(
            "decile",
            "n_docs",
            "n_new",
            F.sum("n_docs").over(w).cast("bigint").alias("cum_docs"),
            F.sum("n_new").over(w).cast("bigint").alias("cum_distinct"),
        )
    )
    return curve.select(
        "decile",
        "n_docs",
        "n_new",
        "cum_docs",
        "cum_distinct",
        F.round(1.0 - F.col("n_new").cast("double") / F.col("n_docs"), 6)
        .alias("marginal_dup_rate"),
        F.round(
            1.0 - F.col("cum_distinct").cast("double") / F.col("cum_docs"), 6
        ).alias("cum_dup_rate"),
    ).orderBy("decile")


# --- q227: k-core decomposition of the near-dup graph -------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unrolled k-core peeling in DuckDB SQL: adj_0 is the symmetrized
    fp-level candidate graph; round r+1 keeps edges whose BOTH endpoints
    had degree >= k in round r. Recursive CTEs can't express peeling (the
    recursive term would need two references to the shrinking set), so
    the fixed rounds are unrolled — matching the Spark side's bounded
    loop exactly. Every CTE is MATERIALIZED: DuckDB inlines CTEs by
    default, and adj_{r+1} references adj_r three times, so inlining
    expands the chain 3^r-fold (minutes at round 4; materialized, it's
    milliseconds)."""
    ctes = [
        f"""cand AS MATERIALIZED (
      SELECT a.fp AS fp_a, b.fp AS fp_b
      FROM ({_ORACLE_FP_BANDS}) a JOIN ({_ORACLE_FP_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
           AND a.fp < b.fp
      WHERE a.band_sig IS NOT NULL
      GROUP BY a.fp, b.fp
    )""",
        "adj0 AS MATERIALIZED (SELECT fp_a AS u, fp_b AS v FROM cand"
        " UNION ALL SELECT fp_b, fp_a FROM cand)",
    ]
    for r in range(_KCORE_ROUNDS):
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT u FROM adj{r} GROUP BY u"
            f" HAVING count(*) >= {_KCORE_K})"
        )
        ctes.append(
            f"adj{r + 1} AS MATERIALIZED (SELECT a.u, a.v FROM adj{r} a"
            f" JOIN s{r} x ON a.u = x.u JOIN s{r} y ON a.v = y.u)"
        )
    rows = [
        f"SELECT {r} AS round,"
        f" CAST(count(DISTINCT u) AS BIGINT) AS n_nodes,"
        f" CAST(count(*) // 2 AS BIGINT) AS n_edges FROM adj{r}"
        for r in range(_KCORE_ROUNDS + 1)
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + " UNION ALL ".join(rows) + " ORDER BY round"
    )


@register("q227_kcore_decomposition", oracle=_kcore_oracle())
def q227_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_K}-core peeling census over the near-dup candidate graph:
    repeatedly remove fingerprints with fewer than {_KCORE_K} near-dup
    partners and report (nodes, edges) after each of {_KCORE_ROUNDS}
    peeling rounds. The surviving core is the DENSE template-family
    structure — pairs and chains (the long tail of incidental similarity)
    peel away, while boilerplate families (every member similar to every
    other) survive — which is what separates "delete one of a pair"
    dedup policy from "collapse the whole family" policy. Complements
    q79 (components: any connectivity), q130 (triangles: local density)
    and q214 (transitivity) with the global density stratification;
    monotone shrinkage means round {_KCORE_ROUNDS}'s census equals the
    true {_KCORE_K}-core once two consecutive rounds agree.

    Scale posture: the graph is FINGERPRINT-grained (exact-dup collapse —
    a K-copy flood is one node, so cliques of byte-identical docs never
    inflate the core) with the per-bucket candidate ceiling upstream (cap
    above sf0.01 populations, so the oracle omits it). Each round is one
    degree HashAggregate plus two semi-joins on 32-char digests — the
    standard distributed peeling round, {_KCORE_ROUNDS} bounded rounds,
    state only (u, v) digest pairs. The DuckDB oracle unrolls the same
    rounds, so the iterative stage is value-checked round by round."""
    pairs = _fp_pairs(spark, sf_dir).select("fp_a", "fp_b")
    adj = pairs.select(
        F.col("fp_a").alias("u"), F.col("fp_b").alias("v")
    ).unionAll(pairs.select(F.col("fp_b").alias("u"), F.col("fp_a").alias("v")))

    # ONE degree aggregate per round serves BOTH consumers: the census
    # derives exactly from the degree table (n_nodes = |deg rows|, and
    # sum(deg) counts each undirected edge twice, so n_edges = sum/2 —
    # always an even sum) and the peel filter is deg >= k. The r12 shape
    # ran a separate countDistinct census (an Expand + two-stage aggregate
    # over the full adjacency) per round beside the degree groupBy —
    # double-aggregating the same frame 5 times. The degree table is
    # |nodes| rows, so its lazy checkpoint is tiny.
    def census(deg: DataFrame, r: int) -> DataFrame:
        return deg.agg(
            F.lit(r).alias("round"),
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            (F.coalesce(F.sum("deg"), F.lit(0)) / 2).cast("bigint").alias("n_edges"),
        ).select("round", "n_nodes", "n_edges")

    # Each round's adjacency (and degree table) is lazily
    # localCheckpoint'ed (the q123 pagerank discipline): round r+1 and the
    # census branch over round r then read one materialized table instead
    # of re-executing the whole peeling chain — without this, branch r
    # re-runs rounds 0..r-1 and the unioned plan re-executes the chain
    # quadratically.
    cur = adj.localCheckpoint(eager=False)
    out = None
    for r in range(_KCORE_ROUNDS + 1):
        # Round 0's degree table is NOT checkpointed and aggregates `adj`
        # directly (identical rows to its checkpoint `cur`): its only two
        # consumers (census 0, peel filter 0) share the groupBy exchange
        # via ReuseExchange over the CACHED pair table, and skipping the
        # barrier keeps that InMemoryTableScan visible to the shared-cache
        # plan pin. Later rounds chain, so their degree tables stay pinned.
        deg = (adj if r == 0 else cur).groupBy("u").agg(
            F.count(F.lit(1)).alias("deg")
        )
        if r > 0:
            deg = deg.localCheckpoint(eager=False)
        c = census(deg, r)
        out = c if out is None else out.unionAll(c)
        if r == _KCORE_ROUNDS:
            break
        surv = deg.filter(F.col("deg") >= _KCORE_K).select("u")
        cur = (
            cur.join(surv, "u", "left_semi")
            .join(surv.select(F.col("u").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
    return out.orderBy("round")


# --- q233: jackknife error bars for the duplicate rate -------------------------


@register(
    "q233_jackknife_dup_rate",
    oracle="""
    WITH d AS (
      SELECT md5(text) AS fp,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                  AS BIGINT) * 10 // 256 AS decile
      FROM documents
    ),
    per_fp AS (
      SELECT fp, min(decile) AS min_dec, max(decile) AS max_dec
      FROM d GROUP BY fp
    ),
    per_dec AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY decile
    ),
    excl AS (
      SELECT min_dec AS decile, CAST(count(*) AS BIGINT) AS n_exclusive
      FROM per_fp WHERE min_dec = max_dec GROUP BY min_dec
    ),
    tot AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_total,
             (SELECT CAST(count(*) AS BIGINT) FROM per_fp) AS n_distinct
    ),
    reps AS (
      SELECT p.decile,
             1.0 - CAST(n_distinct - COALESCE(e.n_exclusive, 0) AS DOUBLE)
                   / (n_total - p.n_docs) AS theta
      FROM per_dec p LEFT JOIN excl e ON p.decile = e.decile, tot
    ),
    jk AS (
      SELECT CAST(count(*) AS BIGINT) AS g, avg(theta) AS theta_bar,
             SUM((theta - (SELECT avg(theta) FROM reps))
                 * (theta - (SELECT avg(theta) FROM reps))) AS ss
      FROM reps
    )
    SELECT round(1.0 - CAST(n_distinct AS DOUBLE) / n_total, 6) AS dup_rate,
           round(theta_bar, 6) AS jk_mean,
           round(sqrt((g - 1.0) / g * ss), 6) AS jk_se,
           round(1.0 - CAST(n_distinct AS DOUBLE) / n_total
                 - 1.96 * sqrt((g - 1.0) / g * ss), 6) AS ci_lo,
           round(1.0 - CAST(n_distinct AS DOUBLE) / n_total
                 + 1.96 * sqrt((g - 1.0) / g * ss), 6) AS ci_hi
    FROM jk, tot
    """,
)
def q233_jackknife_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife error bars for the exact-duplicate rate
    — the uncertainty quantification a planning number needs before it
    drives provisioning (q225 gives the point curve; this says how much
    the rate would wobble under corpus resampling). Replicate d removes
    hash-decile d: its distinct count is n_distinct minus the
    fingerprints EXCLUSIVE to d (min_dec = max_dec = d — no rescan of
    the other nine tenths), so all ten replicates come from the single
    (fp, decile) census q225 already runs. SE = sqrt((g-1)/g *
    sum (theta_i - theta_bar)^2), the standard grouped-jackknife form.

    Scale posture: ONE digest-keyed HashAggregate — the same
    localCheckpoint'ed (fp, decile) census as q225 (plan-pinned: no
    parquet scan downstream) — then all replicate math on the 10-row
    frame; the 1.96-sigma interval is plain arithmetic on two scalars. Determinism: counts are bigints; each theta is one exact
    division; the 10-term float folds are rounded at 1e-6. Reference:
    no statistics surface — §7 Phase-3 extension beside q216 (sampled
    estimate) and q225 (growth curve); jackknife per Quenouille/Tukey
    (public)."""
    docs = load_table(spark, sf_dir, "documents")
    decile = F.floor(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
        ).cast("bigint")
        * 10
        / 256
    ).alias("decile")
    d = docs.select(F.md5("text").alias("fp"), decile)
    # One corpus pass (the q225 discipline): the (fp, decile) census is
    # the sole corpus-sized aggregate, materialized once via lazy
    # localCheckpoint; the per-fp frame, the per-decile doc counts, and
    # both totals all re-aggregate that digest-narrow table.
    g = (
        d.groupBy("fp", "decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    per_fp = g.groupBy("fp").agg(
        F.min("decile").alias("min_dec"),
        F.max("decile").alias("max_dec"),
        F.sum("n").cast("bigint").alias("n_docs_fp"),
    )
    per_dec = g.groupBy("decile").agg(
        F.sum("n").cast("bigint").alias("n_docs")
    )
    excl = (
        per_fp.filter(F.col("min_dec") == F.col("max_dec"))
        .groupBy(F.col("min_dec").alias("decile"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exclusive"))
    )
    nd = per_fp.agg(F.count(F.lit(1)).cast("bigint").alias("n_distinct"))
    tot = per_dec.agg(
        F.sum("n_docs").cast("bigint").alias("n_total")
    ).crossJoin(F.broadcast(nd))
    reps = (
        per_dec.join(excl, "decile", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "n_total",
            "n_distinct",
            (
                1.0
                - (
                    F.col("n_distinct")
                    - F.coalesce(F.col("n_exclusive"), F.lit(0))
                ).cast("double")
                / (F.col("n_total") - F.col("n_docs"))
            ).alias("theta"),
        )
    )
    mean = reps.agg(F.avg("theta").alias("theta_bar"))
    jk = (
        reps.crossJoin(F.broadcast(mean))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("g"),
            F.first("theta_bar").alias("theta_bar"),
            F.sum(
                (F.col("theta") - F.col("theta_bar"))
                * (F.col("theta") - F.col("theta_bar"))
            ).alias("ss"),
            F.first("n_total").alias("n_total"),
            F.first("n_distinct").alias("n_distinct"),
        )
    )
    rate = 1.0 - F.col("n_distinct").cast("double") / F.col("n_total")
    se = F.sqrt((F.col("g") - 1.0) / F.col("g") * F.col("ss"))
    return jk.select(
        F.round(rate, 6).alias("dup_rate"),
        F.round(F.col("theta_bar"), 6).alias("jk_mean"),
        F.round(se, 6).alias("jk_se"),
        F.round(rate - 1.96 * se, 6).alias("ci_lo"),
        F.round(rate + 1.96 * se, 6).alias("ci_hi"),
    )


# --- q251: capture-recapture estimate of the distinct-document count -----------


@register(
    "q251_capture_recapture",
    oracle="""
    WITH d AS (
      SELECT md5(text) AS fp,
             substr(md5('a' || CAST(doc_id AS VARCHAR)), 1, 1) < '4' AS s1,
             substr(md5('b' || CAST(doc_id AS VARCHAR)), 1, 1) < '4' AS s2
      FROM documents
    ),
    per_fp AS (
      SELECT fp, max(s1) AS in1, max(s2) AS in2 FROM d GROUP BY fp
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_distinct,
             CAST(sum(CASE WHEN in1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN in2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN in1 AND in2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both
      FROM per_fp
    )
    SELECT exact_distinct, n1, n2, n_both,
           round((CAST(n1 AS DOUBLE) + 1) * (n2 + 1) / (n_both + 1) - 1, 1)
             AS chapman_estimate,
           round(((CAST(n1 AS DOUBLE) + 1) * (n2 + 1) / (n_both + 1) - 1
                  - exact_distinct) / exact_distinct, 4) AS rel_error
    FROM m
    """,
)
def q251_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate the corpus's DISTINCT-document count from two cheap
    overlapping samples — Chapman's bias-corrected Lincoln-Petersen
    capture-recapture ((n1+1)(n2+1)/(m+1) - 1), the ecology estimator
    that transfers directly to dedup planning: two independent 25%
    hash-samples of doc_ids, count distinct fingerprints in each and in
    the overlap, and the total distinct count follows without a full
    census. Beside q216 (sampled dup-rate from ONE sample, which must
    extrapolate pair collisions) the two-sample design estimates the
    denominator |distinct| itself, and the exact census is computed
    alongside as ground truth (the estimate-beside-exact discipline of
    q36/q192). Samples use independent salted md5 hashes ('a'/'b'
    prefixes), so capture independence holds by construction.

    Determinism: membership is hash arithmetic; all counts are exact
    integer aggregates; the estimator is one closed form rounded at the
    shown grain in both engines.

    Scale posture: one digest-keyed HashAggregate (the q63/q225 path)
    carrying two boolean maxes; the estimator runs on a 1-row frame. At
    a true 100 TB deployment the exact branch is the expensive one —
    the production form keeps only the sampled branches, scanning the
    two 25% slices."""
    docs = load_table(spark, sf_dir, "documents")
    s1 = (
        F.substring(
            F.md5(F.concat(F.lit("a"), F.col("doc_id").cast("string"))), 1, 1
        )
        < "4"
    )
    s2 = (
        F.substring(
            F.md5(F.concat(F.lit("b"), F.col("doc_id").cast("string"))), 1, 1
        )
        < "4"
    )
    d = docs.select(
        F.md5("text").alias("fp"), s1.alias("s1"), s2.alias("s2")
    )
    per_fp = d.groupBy("fp").agg(
        F.max("s1").alias("in1"), F.max("s2").alias("in2")
    )
    m = per_fp.agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct"),
        F.sum(F.col("in1").cast("int")).cast("bigint").alias("n1"),
        F.sum(F.col("in2").cast("int")).cast("bigint").alias("n2"),
        F.sum((F.col("in1") & F.col("in2")).cast("int"))
        .cast("bigint")
        .alias("n_both"),
    )
    chapman = (F.col("n1").cast("double") + 1) * (F.col("n2") + 1) / (
        F.col("n_both") + 1
    ) - 1
    return m.select(
        "exact_distinct",
        "n1",
        "n2",
        "n_both",
        F.round(chapman, 1).alias("chapman_estimate"),
        F.round(
            (chapman - F.col("exact_distinct")) / F.col("exact_distinct"), 4
        ).alias("rel_error"),
    )


# --- q256: blocked entity resolution over the part catalog --------------------


# Per-block population ceiling: a block larger than this escalates to the
# widened key (head noun + first letter of the name), bounding the
# per-key quadratic pair cost — the same budget discipline as the LSH
# band-bucket ceiling (q195/r7). TPC-H head-noun blocks are ~|names|/92,
# far under this at any test SF; at 100x dirty-entity data (every record
# named "unknown") the escalation is what keeps sum_b C(n_b, 2) bounded.
_ER_BLOCK_BUDGET = 512


def _er_blocked_keyed(df: DataFrame, budget: int = _ER_BLOCK_BUDGET) -> DataFrame:
    """Blocking-key assignment with TWO-LEVEL budget escalation for entity
    resolution: any frame carrying p_name gains (block, key) columns. The
    head-noun block is the level-0 key; a block whose ROW population
    exceeds `budget` widens to noun + '|' + first letter; a still-over-
    budget sub-block widens again to the two-letter prefix (the 'unknown'
    flood where every dirty record shares one first letter — a one-level
    scheme leaves that key quadratic-unbounded). The census counts ROWS of
    the given frame, so the caller picks the semantics that bound ITS pair
    cost: q256 passes the distinct-names frame (name-pair cost), q267 the
    records frame (record-pair cost). Identical-prefix floods beyond
    level 2 are genuinely quadratic OUTPUT and stay together by design.
    Pure column ops (two partitioned census windows); property-tested in
    tests/test_properties.py::test_er_block_escalation."""
    blocked = df.withColumn(
        "block", F.split(F.col("p_name"), " ").getItem(1)
    )
    bn = F.count(F.lit(1)).over(Window.partitionBy("block"))
    l1 = F.concat(F.col("block"), F.lit("|"), F.substring("p_name", 1, 1))
    step1 = blocked.withColumn(
        "_k1", F.when(bn > budget, l1).otherwise(F.col("block"))
    )
    bn2 = F.count(F.lit(1)).over(Window.partitionBy("_k1"))
    l2 = F.concat(F.col("block"), F.lit("|"), F.substring("p_name", 1, 2))
    return step1.withColumn(
        "key", F.when(bn2 > budget, l2).otherwise(F.col("_k1"))
    ).drop("_k1")


@register(
    "q256_blocked_entity_resolution",
    oracle=f"""
    WITH names AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS n_records
      FROM part GROUP BY p_name
    ),
    blocked AS (
      SELECT split_part(p_name, ' ', 2) AS block, p_name, n_records,
             count(*) OVER (PARTITION BY split_part(p_name, ' ', 2)) AS bn
      FROM names
    ),
    lvl1 AS (
      SELECT block, p_name, n_records,
             CASE WHEN bn > {_ER_BLOCK_BUDGET}
                  THEN block || '|' || substring(p_name, 1, 1)
                  ELSE block END AS k1
      FROM blocked
    ),
    keyed AS (
      SELECT block, p_name, n_records,
             CASE WHEN count(*) OVER (PARTITION BY k1) > {_ER_BLOCK_BUDGET}
                  THEN block || '|' || substring(p_name, 1, 2)
                  ELSE k1 END AS key
      FROM lvl1
    ),
    pairs AS (
      SELECT a.block, a.p_name AS name_a, b.p_name AS name_b,
             CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev,
             a.n_records + b.n_records AS n_records
      FROM keyed a JOIN keyed b
        ON a.key = b.key AND a.p_name < b.p_name
    )
    SELECT block, name_a, name_b, lev, CAST(n_records AS BIGINT) AS n_records
    FROM pairs WHERE lev <= 4
    ORDER BY block, name_a, name_b
    """,
)
def q256_blocked_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity resolution over the part catalog: collapse records to
    DISTINCT names first (the q63 exact-dup collapse discipline from
    operators/dedup.py:193 — K records sharing a name are ONE node), block by
    the head noun so candidate pairing is per-block quadratic instead of
    corpus quadratic, then verify candidates with an edit-distance ladder
    (levenshtein <= 4 => same entity family, e.g. 'red bolt' ~ 'hot bolt').
    The classic record-linkage pipeline (Fellegi-Sunter blocking + verify),
    the same shape the reference's dedup-by-unique-id semantics (db.mjs:
    285-300) generalize to when keys are dirty strings, not exact ids.

    Scale: the name-collapse HashAggregate shrinks the corpus to |distinct
    names|; the self-join shuffles on the block key, so cost is
    sum_b C(n_b, 2) over per-block populations — bounded exactly like LSH
    band buckets: a block over _ER_BLOCK_BUDGET DISTINCT NAMES escalates
    to the noun+first-letter key, and a still-over-budget sub-block to
    the two-letter prefix (_er_blocked_keyed's two-level scheme, mirrored
    in the oracle's nested CASE windows, property-tested like the r7
    bucket-cap bound), so no single key's name-pair count is unbounded at
    dirty-entity scale. Verification runs on O(candidate pairs) only,
    never all names squared."""
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_records"))
    keyed = _er_blocked_keyed(names)
    a = keyed.select(
        F.col("key"),
        F.col("block"),
        F.col("p_name").alias("name_a"),
        F.col("n_records").alias("na"),
    )
    b = keyed.select(
        F.col("key"),
        F.col("p_name").alias("name_b"),
        F.col("n_records").alias("nb"),
    )
    pairs = a.join(b, "key").filter(F.col("name_a") < F.col("name_b"))
    return (
        pairs.withColumn(
            "lev", F.levenshtein(F.col("name_a"), F.col("name_b")).cast("int")
        )
        .filter(F.col("lev") <= 4)
        .select(
            "block",
            "name_a",
            "name_b",
            "lev",
            (F.col("na") + F.col("nb")).cast("bigint").alias("n_records"),
        )
        .orderBy("block", "name_a", "name_b")
    )


# --- q267: Fellegi-Sunter probabilistic match scoring over blocked pairs -------

# Per-field (m, u) agreement probabilities and their PRE-COMPUTED log2
# match weights (Fellegi & Sunter 1969): m = P(agree | same entity),
# u = P(agree | different entities), u set from the field's codomain
# (name fuzzy-agreement rate 0.05; 25 brands -> 0.04; 6 types in THIS
# synthetic catalog -> 1/6 (real TPC-H has 150 — recalibrate u there);
# size within +/-2 over 1..50 -> 0.10). Weights are rounded Python
# literals, so BOTH engines sum identical doubles in identical order —
# no cross-engine log() in the hash-compared surface.
_FS_W = {
    "name": (4.247928, -4.247928),    # m=0.95, u=0.05
    "brand": (4.491853, -3.263034),   # m=0.90, u=0.04
    "type": (2.432959, -3.058894),    # m=0.90, u=1/6
    "size": (3.087463, -2.584963),    # m=0.85, u=0.10
}
# Decision thresholds. Within a head-noun block the REALIZED fuzzy-name
# agreement rate is far above the global u (blocked names differ by one
# adjective, so lev<=4 is common): a [0, 4) review band admitted ~40% of
# all pairs at sf0.1. The bars sit so a pair needs name+brand-level
# evidence (or three agreeing secondary fields) to surface at all.
_FS_LINK = 8.0       # total weight >= this -> link
_FS_REVIEW = 4.0     # in [review, link) -> possible; below dropped


@register(
    "q267_fellegi_sunter_scores",
    oracle=f"""
    WITH recs AS (
      SELECT p_partkey, p_name, p_brand, p_type, p_size,
             split_part(p_name, ' ', 2) AS block,
             count(*) OVER (PARTITION BY split_part(p_name, ' ', 2)) AS bn
      FROM part
    ),
    lvl1 AS (
      SELECT p_partkey, p_name, p_brand, p_type, p_size, block,
             CASE WHEN bn > {_ER_BLOCK_BUDGET}
                  THEN block || '|' || substring(p_name, 1, 1)
                  ELSE block END AS k1
      FROM recs
    ),
    keyed AS (
      SELECT *, CASE WHEN count(*) OVER (PARTITION BY k1) > {_ER_BLOCK_BUDGET}
                     THEN block || '|' || substring(p_name, 1, 2)
                     ELSE k1 END AS key
      FROM lvl1
    ),
    scored AS (
      SELECT a.block, a.p_partkey AS key_a, b.p_partkey AS key_b,
             levenshtein(a.p_name, b.p_name) <= 4 AS agree_name,
             a.p_brand = b.p_brand AS agree_brand,
             a.p_type = b.p_type AS agree_type,
             abs(a.p_size - b.p_size) <= 2 AS agree_size,
             (CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                   THEN CAST({_FS_W["name"][0]} AS DOUBLE) ELSE CAST({_FS_W["name"][1]} AS DOUBLE) END)
             + (CASE WHEN a.p_brand = b.p_brand
                     THEN CAST({_FS_W["brand"][0]} AS DOUBLE) ELSE CAST({_FS_W["brand"][1]} AS DOUBLE) END)
             + (CASE WHEN a.p_type = b.p_type
                     THEN CAST({_FS_W["type"][0]} AS DOUBLE) ELSE CAST({_FS_W["type"][1]} AS DOUBLE) END)
             + (CASE WHEN abs(a.p_size - b.p_size) <= 2
                     THEN CAST({_FS_W["size"][0]} AS DOUBLE) ELSE CAST({_FS_W["size"][1]} AS DOUBLE) END)
               AS score
      FROM keyed a JOIN keyed b
        ON a.key = b.key AND a.p_partkey < b.p_partkey
    )
    SELECT block, key_a, key_b, agree_name, agree_brand, agree_type,
           agree_size, round(score, 4) AS score,
           CASE WHEN score >= {_FS_LINK} THEN 'link'
                ELSE 'possible' END AS decision
    FROM scored
    WHERE score >= {_FS_REVIEW}
    ORDER BY key_a, key_b
    """,
)
def q267_fellegi_sunter_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (Fellegi & Sunter 1969) over the part
    catalog: RECORD pairs inside q256's budget-escalated head-noun blocks,
    scored by summed log2 m/u agreement weights across four fields (fuzzy
    name, brand, type, size-within-2) and classified link / possible by
    the decision thresholds — the scoring layer q256's single-field
    edit-distance ladder graduates into when evidence must be combined
    across fields. Pairs below the review bar are dropped, so output is
    the (sparse) plausible-match set, not |pairs|.

    Determinism: weights are pre-computed rounded literals summed in a
    fixed field order, so both engines add identical doubles identically;
    agreements are exact predicates (levenshtein is exact integer DP in
    both engines).

    Scale posture: pair generation shuffles on _er_blocked_keyed's
    two-level escalated key with a RECORD census (q256 uses the same
    helper with a distinct-NAMES census — each query's budget bounds the
    pair cost IT pays; property-tested flood bound at both levels) —
    sum_b C(n_b, 2) work, never corpus-squared; scoring is
    per-pair column arithmetic in whole-stage codegen. The expensive
    predicate (edit distance) is computed ONCE PER DISTINCT NAME PAIR on
    the name-vocabulary self-join and broadcast into the record-pair
    stream as a boolean lookup (the q63 distinct-collapse discipline:
    measured 2k DP evaluations instead of 3.1M at sf0.1), so record-pair
    cost is pure comparisons + literal adds. The m/u estimation step (EM
    over agreement patterns) is a k-pattern aggregate at scale; here the
    weights are pinned literals, the standard supervised setting."""
    part = load_table(spark, sf_dir, "part")
    # the SHARED two-level escalation helper, here with a RECORD census
    # (record-pair cost is what this query must bound; q256 passes the
    # distinct-names frame because name-pair cost is what IT must bound)
    keyed = _er_blocked_keyed(
        part.select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    )
    a = keyed.select(
        "key",
        "block",
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_brand").alias("brand_a"),
        F.col("p_type").alias("type_a"),
        F.col("p_size").alias("size_a"),
    )
    b = keyed.select(
        "key",
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand_b"),
        F.col("p_type").alias("type_b"),
        F.col("p_size").alias("size_b"),
    )
    pairs = a.join(b, "key").filter(F.col("key_a") < F.col("key_b"))
    # Edit distance once per DISTINCT unordered name pair within a key,
    # not once per record pair. The banded threshold form early-exits past
    # 4 edits (returns -1); oracle's plain levenshtein(a,b) <= 4 is the
    # identical predicate. The lookup is bounded by the name vocabulary
    # squared per key (64 names -> 2k rows here), broadcast-joined into
    # the record-pair stream.
    nm = keyed.select("key", "p_name").distinct()
    name_agree = (
        nm.alias("x")
        .join(
            nm.alias("y"),
            (F.col("x.key") == F.col("y.key"))
            & (F.col("x.p_name") < F.col("y.p_name")),
        )
        .select(
            F.col("x.key").alias("key"),
            F.col("x.p_name").alias("name_lo"),
            F.col("y.p_name").alias("name_hi"),
            (F.levenshtein("x.p_name", "y.p_name", 4) >= 0).alias("nm_agree"),
        )
    )
    pairs = pairs.withColumn(
        "name_lo", F.least("name_a", "name_b")
    ).withColumn("name_hi", F.greatest("name_a", "name_b"))
    pairs = pairs.join(
        F.broadcast(name_agree), ["key", "name_lo", "name_hi"], "left"
    )
    agree = {
        # equal names have no lo<hi lookup row: trivially agree
        "name": F.coalesce(F.col("nm_agree"), F.lit(True)),
        "brand": F.col("brand_a") == F.col("brand_b"),
        "type": F.col("type_a") == F.col("type_b"),
        "size": F.abs(F.col("size_a") - F.col("size_b")) <= 2,
    }
    score = None
    for field in ("name", "brand", "type", "size"):  # fixed summation order
        wa, wd = _FS_W[field]
        term = F.when(agree[field], F.lit(wa)).otherwise(F.lit(wd))
        score = term if score is None else score + term
    return (
        pairs.select(
            "block",
            "key_a",
            "key_b",
            agree["name"].alias("agree_name"),
            agree["brand"].alias("agree_brand"),
            agree["type"].alias("agree_type"),
            agree["size"].alias("agree_size"),
            score.alias("score_raw"),
        )
        .filter(F.col("score_raw") >= _FS_REVIEW)
        .select(
            "block",
            "key_a",
            "key_b",
            "agree_name",
            "agree_brand",
            "agree_type",
            "agree_size",
            F.round("score_raw", 4).alias("score"),
            F.when(F.col("score_raw") >= _FS_LINK, "link")
            .otherwise("possible")
            .alias("decision"),
        )
        .orderBy("key_a", "key_b")
    )


@register(
    "q287_clustering_coefficients",
    oracle=f"""
    WITH cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
           AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    tris AS (
      SELECT e1.doc_a AS u, e1.doc_b AS v, e2.doc_b AS w
      FROM cand e1
      JOIN cand e2 ON e2.doc_a = e1.doc_b
      JOIN cand e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    tcount AS (
      SELECT node, CAST(count(*) AS BIGINT) AS t FROM (
        SELECT u AS node FROM tris
        UNION ALL SELECT v FROM tris
        UNION ALL SELECT w FROM tris
      ) GROUP BY node
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT doc_a AS node FROM cand UNION ALL SELECT doc_b FROM cand
      ) GROUP BY node
    )
    SELECT deg.node AS doc_id, deg.d AS degree,
           COALESCE(t.t, 0) AS n_triangles,
           round(CAST(2 * COALESCE(t.t, 0) AS DOUBLE)
                 / (deg.d * (deg.d - 1)), 4) AS lcc
    FROM deg LEFT JOIN tcount t ON deg.node = t.node
    WHERE deg.d >= 2
    ORDER BY doc_id
    """,
)
def q287_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the LSH candidate graph
    (Watts & Strogatz 1998: lcc(v) = 2 T(v) / d(v)(d(v)-1)) — the
    NODE-level refinement of q130's global census and q214's per-cluster
    density: a near-dup node whose neighbors all know each other
    (lcc ~ 1) sits in a true duplicate clique; lcc ~ 0 at high degree is
    the hash-collision-hub signature, and those nodes are exactly the
    ones q195's band-population cap and q211's planner exist to protect
    against. Triangle corners come from the same compact-forward join as
    q130 (each triangle found once, credited to all three corners —
    corner membership is orientation-invariant, so the id-oriented oracle
    matches the degree-oriented execution).

    Scale posture: shares the persisted candidate expansion
    (_PAIRS_CACHE) and the q130 join shape — shuffles on the edge key,
    degree-ordered orientation bounding fan-out by degeneracy, AQE for
    residual skew; the per-node credit is one explode of the (bounded)
    triangle list plus a hash aggregate. Exact integers everywhere; the
    single float is the final ratio, rounded at the edge. r14: corner
    credit explodes a 3-endpoint array instead of unionAll'ing three
    selections of the triangle join — the join sits above its exchanges,
    so each union branch RE-EXECUTED the whole triangle enumeration (the
    q206 endpoint-census fix; 3x -> 1x executions of the dominant join);
    the node-grain degree table rides a lazy localCheckpoint serving its
    three consumers (da/db orientation sides + the final filter) once
    (interleaved A/B 0.84 -> 0.65 s med at sf0.1, 5/5, rows identical)."""
    raw = _lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    deg = (
        raw.select(F.col("doc_a").alias("node"))
        .unionAll(raw.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .localCheckpoint(eager=False)
    )
    da = deg.select(F.col("node").alias("doc_a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("doc_b"), F.col("d").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("doc_a") < F.col("doc_b"))
    )
    edges = (
        raw.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.when(lower_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
            F.when(lower_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
        )
        .localCheckpoint(eager=False)
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tris = e1.join(e2, F.col("e2.src") == F.col("e1.dst")).join(
        e3,
        (F.col("e3.src") == F.col("e1.src")) & (F.col("e3.dst") == F.col("e2.dst")),
    )
    corners = (
        tris.select(
            F.explode(
                F.array(F.col("e1.src"), F.col("e1.dst"), F.col("e2.dst"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(corners, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.col("d").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.round(
                (2 * F.coalesce("t", F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1)),
                4,
            ).alias("lcc"),
        )
        .orderBy("doc_id")
    )


@register(
    "q291_groupkfold_assignment",
    oracle=f"""
    WITH RECURSIVE
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand
      UNION
      SELECT doc_b AS s, doc_a AS d FROM cand
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, w.reach FROM edges e JOIN walk w ON w.node = e.d
    ),
    lab AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node),
    keyed AS (
      SELECT d.doc_id,
             COALESCE(l.cluster_id, d.doc_id) AS gkey,
             substr(md5(CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR)), 1, 2)
               AS h
      FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
    ),
    folded AS (
      SELECT doc_id, gkey,
             CASE WHEN h < '33' THEN 0 WHEN h < '66' THEN 1
                  WHEN h < '99' THEN 2 WHEN h < 'cc' THEN 3 ELSE 4 END AS fold
      FROM keyed
    ),
    leak AS (
      SELECT CAST(count(*) AS BIGINT) AS leaked_groups
      FROM (SELECT gkey FROM folded GROUP BY gkey
            HAVING count(DISTINCT fold) > 1)
    )
    SELECT fold,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT gkey) AS BIGINT) AS n_groups,
           CAST(max(gsize) AS BIGINT) AS max_group,
           leaked_groups
    FROM (SELECT fold, gkey, count(*) OVER (PARTITION BY gkey) AS gsize
          FROM folded), leak
    GROUP BY fold, leaked_groups
    ORDER BY fold
    """,
)
def q291_groupkfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-keyed K-fold cross-validation assignment (GroupKFold with
    near-dup clusters as the groups): every document is assigned to one
    of 5 folds by hashing its NEAR-DUP CLUSTER label (the q79 connected
    component; singleton docs key on themselves), so an entire duplicate
    neighborhood moves as one atom and no fold can hold a near-copy of
    another fold's text. q161 fixed the split for byte-identical dups and
    q202 AUDITS how badly the naive per-doc split leaks near-dups; this
    is the FIX at near-dup granularity, generalized from one train/test
    split to K folds, with the leak audit built in (leaked_groups is
    structurally zero and the query proves it rather than asserting it).

    Determinism: folds come from the q76/q77 hex-prefix band rule on
    md5(cluster_id) — pure column arithmetic, stable across engines,
    partitionings and reruns; all outputs are exact counts.

    Scale posture: reuses the cached cluster-label table (one signature
    pass per session); the label attach is a left join on doc_id; fold
    assignment is scan-side map work; the census is one hash aggregate
    plus a gkey-partitioned size window; the leak audit is a 1-row scalar
    attached by broadcast (recorded)."""
    docs = load_table(spark, sf_dir, "documents")
    labels = _cluster_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    gkey = F.coalesce("cluster_id", "doc_id")
    h = F.substring(F.md5(gkey.cast("string")), 1, 2)
    fold = (
        F.when(h < "33", 0)
        .when(h < "66", 1)
        .when(h < "99", 2)
        .when(h < "cc", 3)
        .otherwise(4)
    )
    folded = docs.join(labels, "doc_id", "left").select(
        "doc_id", gkey.alias("gkey"), fold.alias("fold")
    )
    leak = (
        folded.groupBy("gkey")
        .agg(F.countDistinct("fold").alias("nf"))
        .filter(F.col("nf") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("leaked_groups"))
    )
    gsize = folded.withColumn(
        "gsize", F.count(F.lit(1)).over(Window.partitionBy("gkey"))
    )
    return (
        gsize.crossJoin(F.broadcast(leak))
        .groupBy("fold", "leaked_groups")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("gkey").cast("bigint").alias("n_groups"),
            F.max("gsize").cast("bigint").alias("max_group"),
        )
        .select("fold", "n_docs", "n_groups", "max_group", "leaked_groups")
        .orderBy("fold")
    )


@register(
    "q293_golden_record_merge",
    oracle=f"""
    WITH RECURSIVE
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand
      UNION
      SELECT doc_b AS s, doc_a AS d FROM cand
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, w.reach FROM edges e JOIN walk w ON w.node = e.d
    ),
    lab AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node),
    members AS (
      SELECT l.cluster_id, d.doc_id, d.n_chars, d.lang, d.source,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
      FROM lab l JOIN documents d ON l.doc_id = d.doc_id
    )
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
             AS golden_doc_id,
           CAST(max(n_chars) AS BIGINT) AS golden_n_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs
    FROM members
    GROUP BY cluster_id
    HAVING count(*) >= 2
    ORDER BY cluster_id
    """,
)
def q293_golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record construction per near-dup cluster — the
    master-data-management step AFTER q79 forms clusters and BEFORE q90
    keeps survivors: instead of keeping one member verbatim, merge the
    cluster field-by-field (the longest-text member is the golden body —
    (n_chars DESC, doc_id ASC) tie-broken — while language and source
    metadata union across ALL members). A cluster spanning 2 sources and
    2 langs is exactly the record where canonical-only keep silently
    loses provenance; the n_langs/n_sources columns make those clusters
    greppable, and `langs` carries the merged value.

    Determinism: the golden pick is a rank-1 window with a total order;
    the merged lang list is sorted before joining; everything else is
    exact counts.

    Scale posture: reuses the cached cluster-label table; one join
    attaches member fields (doc_id keys, AQE strategy); the merge is a
    single cluster_id hash aggregate; the golden pick is a window over
    cluster-sized groups — the same partition the aggregate shuffles on,
    so Catalyst reuses one exchange for both."""
    docs = load_table(spark, sf_dir, "documents")
    labels = _cluster_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    members = labels.join(docs, "doc_id").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.col("n_chars").desc(), F.col("doc_id").asc()
            )
        ),
    )
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id")))
            .cast("bigint")
            .alias("golden_doc_id"),
            F.max("n_chars").cast("bigint").alias("golden_n_chars"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.array_join(F.sort_array(F.collect_set("lang")), ",").alias("langs"),
        )
        .filter(F.col("n_members") >= 2)
        .orderBy("cluster_id")
    )


_Q296_EPS = 0.0005  # share floor so an emptied stratum stays finite (q180 guard)


@register(
    "q296_dedup_selection_bias",
    oracle=f"""
    WITH RECURSIVE
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand
      UNION
      SELECT doc_b AS s, doc_a AS d FROM cand
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, w.reach FROM edges e JOIN walk w ON w.node = e.d
    ),
    lab AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node),
    kept AS (
      SELECT doc_id FROM lab WHERE doc_id = cluster_id
      UNION ALL
      SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM lab)
    ),
    feat AS (
      SELECT 'lang' AS feature, lang AS category, doc_id FROM documents
      UNION ALL
      SELECT 'source', source, doc_id FROM documents
    ),
    census AS (
      SELECT f.feature, f.category,
             CAST(count(*) AS BIGINT) AS n_corpus,
             CAST(count(k.doc_id) AS BIGINT) AS n_kept
      FROM feat f LEFT JOIN kept k ON f.doc_id = k.doc_id
      GROUP BY f.feature, f.category
    ),
    shares AS (
      SELECT feature, category, n_corpus, n_kept,
             greatest(CAST(n_corpus AS DOUBLE)
                      / sum(n_corpus) OVER (PARTITION BY feature),
                      {_Q296_EPS}) AS p,
             greatest(CAST(n_kept AS DOUBLE)
                      / sum(n_kept) OVER (PARTITION BY feature),
                      {_Q296_EPS}) AS q
      FROM census
    )
    SELECT feature, category, n_corpus, n_kept,
           round(p, 6) AS corpus_share, round(q, 6) AS kept_share,
           round((p - q) * ln(p / q), 6) AS psi_term,
           round(sum((p - q) * ln(p / q)) OVER (
             PARTITION BY feature ORDER BY category
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_psi
    FROM shares
    ORDER BY feature, category
    """,
)
def q296_dedup_selection_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection-bias audit OF THE DEDUP ITSELF: PSI between the corpus
    and the q90-surviving set (cluster representatives + never-candidate
    uniques) over the lang and source distributions — q172 reports how
    much mass dedup removes and q180 monitors drift BETWEEN snapshots;
    this asks whether removal is NEUTRAL across strata. Near-dup removal
    is never uniform (template floods concentrate in specific
    sources/languages), so a dedup pass silently reweights the training
    mixture; the per-category psi_term names exactly which stratum
    shifted, and the running cum_psi's last row per feature is the PSI
    headline the q113 mixture planner should re-budget against.

    Determinism: all counts exact; shares floor at {_Q296_EPS} (the q180
    guard) so an emptied category stays finite; psi terms are identical
    doubles and the cumulative fold is a sequential running window in
    category order — deterministic in both engines.

    Scale posture: reuses the cached cluster-label table; the survivor
    set is a rank filter + anti join; the censuses collapse to
    |langs| + |sources| rows before any float; every window here runs on
    those bounded frames."""
    docs = load_table(spark, sf_dir, "documents")
    labels = _cluster_labels(spark, sf_dir)
    reps = labels.filter(F.col("node") == F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    uniques = docs.join(
        labels.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
    ).select("doc_id")
    kept = reps.unionAll(uniques)
    feat = docs.select(
        F.lit("lang").alias("feature"), F.col("lang").alias("category"), "doc_id"
    ).unionAll(
        docs.select(
            F.lit("source").alias("feature"),
            F.col("source").alias("category"),
            "doc_id",
        )
    )
    census = (
        feat.join(kept.withColumn("k", F.lit(1)), "doc_id", "left")
        .groupBy("feature", "category")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_corpus"),
            F.count("k").cast("bigint").alias("n_kept"),
        )
    )
    w_f = Window.partitionBy("feature")
    p = F.greatest(
        F.col("n_corpus").cast("double") / F.sum("n_corpus").over(w_f),
        F.lit(_Q296_EPS),
    )
    q = F.greatest(
        F.col("n_kept").cast("double") / F.sum("n_kept").over(w_f),
        F.lit(_Q296_EPS),
    )
    shares = census.select(
        "feature", "category", "n_corpus", "n_kept", p.alias("p"), q.alias("q")
    )
    term = (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
    w_cum = (
        Window.partitionBy("feature")
        .orderBy("category")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return shares.select(
        "feature",
        "category",
        "n_corpus",
        "n_kept",
        F.round("p", 6).alias("corpus_share"),
        F.round("q", 6).alias("kept_share"),
        F.round(term, 6).alias("psi_term"),
        F.round(F.sum(term).over(w_cum), 6).alias("cum_psi"),
    ).orderBy("feature", "category")


@register(
    "q308_bfs_hop_census",
    oracle=f"""
    WITH RECURSIVE
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand
      UNION
      SELECT doc_b AS s, doc_a AS d FROM cand
    ),
    seed AS (SELECT min(doc_a) AS s0 FROM cand),
    bfs(node, hop) AS (
      SELECT s0, 0 FROM seed
      UNION
      SELECT e.d, b.hop + 1
      FROM bfs b JOIN edges e ON e.s = b.node
      WHERE b.hop < 4
    ),
    lvl AS (SELECT node, CAST(min(hop) AS INT) AS hop FROM bfs GROUP BY node)
    SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(count(*)) OVER (ORDER BY hop
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_reached
    FROM lvl GROUP BY hop ORDER BY hop
    """,
)
def q308_bfs_hop_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first hop census from the candidate graph's smallest-id
    edge endpoint: how many nodes sit at each hop distance (<= 4) and the
    cumulative reach — the neighborhood-growth curve that distinguishes a
    tight duplicate clique (everything at hop 1-2, then flat) from a
    template CHAIN (steady growth per hop, the q214 weak-link signature
    seen radially). Four pinned rounds is the q244 label-propagation
    discipline: at near-dup diameters anything beyond 3 hops is already
    pathological and the census SHOWS it rather than walking it forever.

    Scale posture: reuses the persisted candidate expansion
    (_PAIRS_CACHE); each round is one join of the frontier against the
    edge table (shuffle on the edge key), localCheckpoint'ed so the plan
    stays O(rounds) deep; per-hop counts are exact integers, as is the
    running cumulative over the 5-row hop frame.

    Determinism: min-hop labeling is order-free (BFS level = min over
    discovery paths); the seed is the minimum edge endpoint."""
    raw = _lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        raw.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
        .unionAll(raw.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    seed = raw.agg(F.min("doc_a").alias("node")).select(
        "node", F.lit(0).alias("hop")
    )
    frontier = seed.localCheckpoint(eager=False)
    levels = frontier
    for hop in range(1, 5):
        nxt = (
            frontier.join(edges, frontier.node == edges.s)
            .select(F.col("d").alias("node"), F.lit(hop).alias("hop"))
            .distinct()
            .join(levels.select("node"), "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        levels = levels.unionAll(nxt).localCheckpoint(eager=False)
        frontier = nxt
    per_hop = levels.groupBy("hop").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    w_cum = Window.orderBy("hop").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # <= 5-row hop frame: allowlisted bound
    return per_hop.select(
        F.col("hop").cast("int").alias("hop"),
        "n_nodes",
        F.sum("n_nodes").over(w_cum).cast("bigint").alias("n_reached"),
    ).orderBy("hop")


@register(
    "q309_degree_assortativity",
    oracle=f"""
    WITH cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({_ORACLE_BANDS}) a JOIN ({_ORACLE_BANDS}) b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS k FROM (
        SELECT doc_a AS node FROM cand UNION ALL SELECT doc_b FROM cand
      ) GROUP BY node
    ),
    ends AS (
      SELECT da.k AS x, db.k AS y
      FROM cand c JOIN deg da ON c.doc_a = da.node
                  JOIN deg db ON c.doc_b = db.node
    ),
    sym AS (
      SELECT x, y FROM ends UNION ALL SELECT y, x FROM ends
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM sym
    )
    SELECT n AS n_edge_ends,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                 / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                        * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)),
                 6) AS assortativity
    FROM mom
    """,
)
def q309_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the LSH candidate graph (Newman 2002: the
    Pearson correlation of degrees across edge ends, symmetrized) — the
    one-number answer to "do hubs link to hubs?": near-dup CLIQUES are
    assortative (high-degree nodes interlink, r > 0); hash-collision
    STARS are disassortative (one hub linked to many leaves, r < 0), so a
    negative swing on a corpus update is the earliest cheap signal that a
    band started colliding — cheaper than q130's triangle census and
    complementary to q287's per-node view.

    Determinism: degrees and all five moments are exact BIGINTs over the
    symmetrized end list; r is one identical-association expression (no
    engine corr() — the q281/q297 discipline) rounded at the edge.

    Scale posture: reuses the persisted candidate expansion; two
    degree-attach joins on the edge keys (AQE strategy) and one exact
    moment fold; output is a single row."""
    raw = _lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    deg = (
        raw.select(F.col("doc_a").alias("node"))
        .unionAll(raw.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    da = deg.select(F.col("node").alias("doc_a"), F.col("k").alias("x"))
    db = deg.select(F.col("node").alias("doc_b"), F.col("k").alias("y"))
    ends = raw.join(da, "doc_a").join(db, "doc_b").select("x", "y")
    sym = ends.unionAll(ends.select(F.col("y").alias("x"), F.col("x").alias("y")))
    mom = sym.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    r = (
        F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / F.col("n")
    ) / F.sqrt(
        (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
        * (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / F.col("n"))
    )
    return mom.select(
        F.col("n").alias("n_edge_ends"), F.round(r, 6).alias("assortativity")
    )
