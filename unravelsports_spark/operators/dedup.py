"""Deduplication operators for training-data pipelines: exact, word-shingle
Jaccard, MinHash + LSH banding, SimHash.

Designed for 100 TB corpora:

- exact dedup is one hash aggregation on a fingerprint (map-side combinable);
- shingle explosion is a generator (no shuffle) followed by hash aggregations;
- the pairwise Jaccard join is bounded by LSH banding (candidates only meet
  inside a band bucket) instead of an all-pairs cross join;
- all hashes are md5-hex→bigint, bit-identical across engines so every stage
  has an exact DuckDB oracle (plans/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# fixed multiply-add constants for the minhash family h_i(x) = (a_i*x+b_i) mod p
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1
MINHASH_COEFFS = [
    (1103515245, 12345), (1013904223, 1664525), (22695477, 1),
    (69069, 362437), (1664525, 1013904223), (134775813, 1),
    (214013, 2531011), (16807, 0),
]


def norm_text(text_col: str = "text"):
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))


def hash64(col) -> F.Column:
    """Deterministic 60-bit hash identical in Spark and DuckDB:
    bigint of the first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    payload_cols=None,
) -> DataFrame:
    """Keep the smallest id per normalized-text fingerprint.

    Expressed as ``min_by(struct(row), id)`` per fingerprint — an
    aggregation with MAP-SIDE PARTIAL COMBINE, so duplicate rows collapse
    to one row per (partition, fingerprint) BEFORE the exchange; the
    row_number-window form ships every input row through the shuffle and
    sorts it on the reducer. The struct buffer compiles to SortAggregate
    (partial + final), so the sort cost moves map-side onto pre-combine
    data — a strict shuffle-byte win on duplicate-heavy corpora (web crawls
    run 30-50 % exact dupes) and a wash locally (A/B: 0.36 vs 0.38 s at
    sf0.1). Same survivor set (ids are unique, so the min is the window's
    rank-1 row).

    ``payload_cols`` restricts the carried columns: Catalyst does NOT prune
    struct fields through an aggregate buffer, so a caller that only needs
    a few output columns should name them here to keep the shuffle narrow
    (e.g. dropping ``text`` once the per-doc scores are computed). The
    fingerprint key is always built from ``text_col`` regardless."""
    cols = list(payload_cols) if payload_cols is not None else df.columns
    payload = F.struct(*[F.col(c) for c in cols])
    return (
        df.groupBy(F.md5(norm_text(text_col)).alias("_fp"))
        .agg(F.min_by(payload, F.col(id_col)).alias("_row"))
        .select("_row.*")
    )


def doc_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    distinct: bool = True,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Word n-gram shingles per document → (id, *keep_cols, shingle_hash).

    ``keep_cols`` carries doc-level attributes (e.g. ``source``) through the
    shingle frame so per-attribute rollups aggregate directly instead of
    joining a doc-keyed frame back to the documents table — each kept column
    is functionally dependent on the id, so the distinct's cardinality is
    unchanged; only shuffle-row width grows.

    The explode+md5 map stage is CPU-bound; if the scan under-partitions
    (small corpora arrive as one file → one partition), fan out to cluster
    parallelism first. One cheap shuffle of raw docs; a no-op at scale where
    the scan already has ≥ cores partitions.

    Gram construction is ``explode(arrays_zip(n shifted slices))`` followed
    by a relational ``concat_ws`` — whole-stage codegen end to end. The
    earlier ``transform(idx, i -> concat_ws(slice(...)))`` form interpreted
    its lambda once per shingle (~37M interpreted steps at the 100x probe
    scale); zip slices are exact-length so the zip never pads with nulls
    and the produced strings are identical.

    ``distinct`` (default True) gives SET semantics — required for Jaccard
    and posting-list consumers. MinHash consumers should pass False:
    ``min`` is duplicate-insensitive, so the distinct's full-width shuffle
    (one row per (doc, shingle) across the wire) is pure waste there — the
    signature aggregation's map-side partial min reduces each partition to
    one row per (doc, hash-column) before any exchange. Same signatures,
    one corpus-wide shuffle fewer."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target, F.col(id_col))
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # each slice has exact length size-n+1 (clamped at 0 for short docs), so
    # arrays_zip never pads and short docs yield an empty shingle set
    width = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    slices = [F.slice(toks, i + 1, width).alias(f"t{i}") for i in range(n)]
    out = (
        df.select(id_col, *keep_cols, F.explode(F.arrays_zip(*slices)).alias("_g"))
        .select(
            id_col,
            *keep_cols,
            F.concat_ws(" ", *[F.col(f"_g.t{i}") for i in range(n)]).alias("shingle"),
        )
        .withColumn("shingle_hash", hash64(F.col("shingle")))
        .select(id_col, *keep_cols, "shingle_hash")
    )
    return out.distinct() if distinct else out


def minhash_signatures(
    shingled: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """One row per doc with minhash_0..minhash_{k-1} columns (single hash
    aggregation; partial min is map-side combinable)."""
    if num_hashes > len(MINHASH_COEFFS):
        raise ValueError(f"at most {len(MINHASH_COEFFS)} hash functions configured")
    aggs = []
    # reduce to < p before the affine step: (p-1) * max(a) stays within int64,
    # whereas the raw 60-bit shingle hash times a would overflow (ANSI error)
    h0 = F.pmod(F.col("shingle_hash"), F.lit(MINHASH_PRIME))
    for i in range(num_hashes):
        a, b = MINHASH_COEFFS[i]
        h = F.pmod(h0 * F.lit(a) + F.lit(b), F.lit(MINHASH_PRIME))
        aggs.append(F.min(h).alias(f"minhash_{i}"))
    return shingled.groupBy(id_col).agg(*aggs)


def band_keys(
    signatures: DataFrame, id_col: str = "doc_id", bands: int = 4, rows_per_band: int = 2
) -> DataFrame:
    """(id, band, key) rows: each band's key concatenates its minhash run;
    the join keys of :func:`lsh_candidate_pairs`."""
    band_rows = []
    for b in range(bands):
        cols = [F.col(f"minhash_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_rows.append(F.struct(F.lit(b).alias("band"), F.concat_ws("_", *cols).alias("key")))
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_rows)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    single_pass: bool = True,
) -> DataFrame:
    """Band the signature and self-join on (band, band_key): docs agreeing on
    every hash of any band become candidate pairs (id_a < id_b).

    The signature lineage (shingle explode + minhash aggregation — the most
    expensive stage of the whole dedup pipeline) feeds BOTH sides of the
    band self-join; left as-is, Spark computes it twice. With
    ``single_pass`` (default) the signature table — n_docs × k small ints,
    orders of magnitude smaller than the corpus — is persisted
    memory-and-disk so both join sides read one InMemoryRelation and the
    shingle→minhash subtree executes once. The production-scale equivalent
    is staging signatures to a table between pipeline runs; callers that
    already pass a materialized signature table can set
    ``single_pass=False``."""
    if single_pass:
        from ..cache import tracked_persist

        signatures = tracked_persist(signatures)
    banded = band_keys(signatures, id_col=id_col, bands=bands, rows_per_band=rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    shingled: DataFrame,
    id_col: str = "doc_id",
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = 50,
) -> DataFrame:
    """Exact Jaccard over shingle sets. With `candidates`, only verify those
    pairs (the LSH path); without, join docs on shared shingles — the classic
    inverted-index join that never materializes an all-pairs cross product.

    The inverted-index join is quadratic in each shingle's posting-list
    length: one boilerplate shingle present in k docs emits k² join rows on
    a single key — a skewed-shuffle bomb at corpus scale. Without
    ``candidates``, shingles with document frequency > ``max_doc_freq`` are
    therefore dropped from the shingle universe first (sizes and
    intersections both computed on the filtered sets, i.e. Jaccard over
    *informative* shingles); the frequency window shuffles on the same key
    as the join. Pass ``max_doc_freq=None`` to disable. With ``candidates``
    the join is already bounded, so Jaccard stays exact over the full sets.
    """
    if candidates is None and max_doc_freq is not None:
        # anti-join against the HOT shingles only (df > cap): the hot list
        # is tiny by construction (boilerplate shingles), so it broadcasts,
        # and the cap costs one map-side-combinable count agg instead of a
        # full sort-based count window over every shingle row
        hot = (
            shingled.groupBy("shingle_hash")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("shingle_hash")
        )
        shingled = shingled.join(F.broadcast(hot), "shingle_hash", "left_anti")
    from ..cache import tracked_persist

    # the (capped) shingle table feeds THREE consumers — the per-doc sizes
    # and both sides of the inverted-index self-join — so persist it once
    # instead of recomputing the explode+hash+distinct lineage per consumer
    # (same single-lineage rule as lsh_candidate_pairs; release_tracked()
    # is the caller's contract, see cache.tracked_persist)
    shingled = tracked_persist(shingled)
    sizes = shingled.groupBy(id_col).agg(F.count("*").alias("n"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle_hash") == F.col("b.shingle_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    if candidates is not None:
        common = common.join(candidates, on=["id_a", "id_b"], how="left_semi")
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def containment_pairs(
    shingled: DataFrame,
    id_col: str = "doc_id",
    max_doc_freq: int | None = 50,
) -> DataFrame:
    """Ordered-pair shingle containment — the asymmetric near-dup measure
    Jaccard misses: C(src→dst) = |S_src ∩ S_dst| / |S_src| is ~1 when src
    is *contained in* dst (a quoted article inside a longer page, a doc
    plus boilerplate) even though the symmetric Jaccard is low. Returns
    (id_src, id_dst, n_common, containment_ppm) with exact integer ppm.

    Scale shape: the intersection count is symmetric, so it is computed
    ONCE over unordered pairs via the same df-capped inverted-index join
    as :func:`jaccard_pairs` (one hot-shingle broadcast anti-join bounds
    posting-list length; never an all-pairs product). Both directions then
    come out of ONE pass over the aggregated pair frame — an
    explode(array(struct,struct)), not a union, because union children
    share no common subplan and would re-run the join per branch. The
    denominator joins the per-doc size frame once, on the src id only.
    """
    if max_doc_freq is not None:
        hot = (
            shingled.groupBy("shingle_hash")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("shingle_hash")
        )
        shingled = shingled.join(F.broadcast(hot), "shingle_hash", "left_anti")
    from ..cache import tracked_persist

    # feeds the per-doc sizes and both sides of the self-join (same
    # single-lineage rule as jaccard_pairs)
    shingled = tracked_persist(shingled)
    sizes = shingled.groupBy(id_col).agg(F.count("*").alias("n"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle_hash") == F.col("b.shingle_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    dirs = common.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_src"),
                    F.col("id_b").alias("id_dst"),
                    F.col("n_common"),
                ),
                F.struct(
                    F.col("id_b").alias("id_src"),
                    F.col("id_a").alias("id_dst"),
                    F.col("n_common"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    return (
        dirs.join(sizes.select(F.col(id_col).alias("id_src"), "n"), "id_src")
        .select(
            "id_src",
            "id_dst",
            "n_common",
            F.expr("div(1000000 * n_common, n)").cast("bigint").alias("containment_ppm"),
        )
    )


def window_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", window: int = 10
) -> DataFrame:
    """One row per ``window``-token span start: (id, pos, fp).

    Span-level dedup (the "deduplicating training data" shape): unlike
    :func:`doc_shingles` this keeps every start position (no distinct) so a
    span repeated *within* a document counts, and the position column lets
    callers report which parts of a document are boilerplate. Same
    zero-shuffle generator pattern: split → sequence → transform → explode.

    Measured negative result (keep md5-per-span): a Karp–Rabin-style
    polynomial fingerprint over pre-hashed tokens looks asymptotically
    cheaper, but Catalyst does not common-subexpression-eliminate an array
    expression referenced inside an outer ``transform`` lambda — the
    per-token hash array re-evaluates per element_at, turning O(tokens×w)
    into O(tokens²×w): 0.51 s → 7.5 s at sf0.1. Materializing the array as
    a column fixes that (0.52 s, parity) but a 31-bit modulus (the largest
    whose mulmod fits int64) birthday-collides at ~10⁶ spans, and the
    collision-safe double-hash variant measures 0.61 s — behind md5's
    0.58 s: JVM md5 over ~60-byte spans is not the bottleneck, the
    generator machinery is. Benchmark before "optimizing" expression trees.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target, F.col(id_col))
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    idx = F.when(
        F.size(toks) >= window, F.sequence(F.lit(0), F.size(toks) - window)
    ).otherwise(F.array().cast("array<int>"))
    spans = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"), hash64(F.concat_ws(" ", F.slice(toks, i + 1, window))).alias("fp")
        ),
    )
    return df.select(id_col, F.explode(spans).alias("s")).select(
        id_col, F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp")
    )


def dup_span_stats(
    fps: DataFrame, id_col: str = "doc_id", max_fp_freq: int | None = 10_000
) -> DataFrame:
    """Per-document span-duplication profile from :func:`window_fingerprints`
    rows → (id, n_windows, n_dup_windows, dup_fraction).

    A window is *duplicated* when its fingerprint occurs more than once in
    the corpus (across documents or repeated within one). ``dup_fraction``
    is the standard window-start approximation of the duplicated-token
    fraction — exact span-coverage union tracking needs per-doc sequential
    state for a metric the window fraction already ranks identically.

    Scale shape: one window count over the fp partitioning (a single
    shuffle; the fingerprint explode — the expensive stage — runs exactly
    once, where an agg+join-back formulation would compute it twice), then
    one agg on doc. The corpus never self-joins, so there is no k² blowup
    to cap; ``max_fp_freq`` clamps the carried count for pathological
    fingerprints (empty-string spam). A mega-hot fingerprint lands its
    rows in one window partition; if a corpus is known to contain one
    (billions of identical spans), pre-filter it or fall back to an
    agg+join-back formulation, whose shuffle AQE's skew-join can split."""
    w = Window.partitionBy("fp")
    n_occ = F.count("*").over(w)
    if max_fp_freq is not None:
        n_occ = F.least(n_occ, F.lit(max_fp_freq))
    joined = fps.withColumn("n_occ", n_occ)
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).alias("n_dup_windows"),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 6),
        )
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16) -> DataFrame:
    """Per-doc SimHash: sign-aggregate token-hash bits. Expressed as one
    explode + one aggregation with `bits` conditional sums."""
    toks = F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok")
    tok_df = df.select(id_col, toks).withColumn("h", hash64(F.col("tok")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_bit_{b}")
        for b in range(bits)
    ]
    agg = tok_df.groupBy(id_col).agg(*bit_sums)
    sim = F.lit(0).cast("bigint")
    for b in range(bits):
        sim = sim + F.when(F.col(f"_bit_{b}") > 0, F.lit(1 << b)).otherwise(0)
    return agg.withColumn("simhash", sim).select(id_col, "simhash")


def incremental_dedup(
    new_batch: DataFrame,
    seen: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-batch incremental dedup: drop rows of ``new_batch`` whose
    normalized-text fingerprint already appears in ``seen`` (the fingerprint
    ledger from previous batches), then self-dedup the remainder keeping the
    lowest id. This is the streaming-ingest shape of exact dedup: the ledger
    is append-only, the anti-join is a hash join on the fingerprint (broadcast
    when the new batch is small relative to the ledger — at 100 TB the LEDGER
    is the big side, so the join shuffles on fingerprint, which is exactly the
    key both sides are stored by). Returns the surviving rows with their
    ``fingerprint`` column for appending to the ledger."""
    fp = new_batch.withColumn("fingerprint", F.md5(norm_text(text_col)))
    if seen is not None:
        ledger = seen.select("fingerprint").distinct()
        fp = fp.join(ledger, "fingerprint", "anti")
    # min_by(struct, id) per fingerprint: map-side-combinable hash agg (the
    # exact_dedup form) instead of a shuffle-and-sort row_number window
    payload = F.struct(*[F.col(c) for c in fp.columns])
    return (
        fp.groupBy("fingerprint")
        .agg(F.min_by(payload, F.col(id_col)).alias("_row"))
        .select("_row.*")
    )
