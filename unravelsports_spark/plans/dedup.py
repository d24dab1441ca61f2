"""Deduplication queries: exact, MinHash/LSH, SimHash/Hamming, span,
content-defined-chunk and embedding (SemDeDup) near-duplicate detection, the
near-duplicate graph (components, PageRank, communities, k-core),
decontamination and release diffs, each with an exact DuckDB oracle unless
noted.

MinHash/SimHash SQL is generated from the same constants as the Spark
operators, and every hash is md5-hex→bigint (bit-identical across engines).
The shingle, LSH and cosine SQL builders here are shared by the retrieval
and text queries.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.bloom import bloom_contaminated_docs
from ..operators.components import pagerank
from ..operators.dedup import (
    MINHASH_COEFFS,
    MINHASH_PRIME,
    doc_shingles,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    norm_text,
    simhash,
)
from ..operators.retrieval import countmin_estimates
from ..operators.similarity import _allpairs_cosine_removed, _bucket_cosine_removed, _sign_lsh_bev
from ..session import read_table
from . import query


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@query(
    "d_exact_dedup_stats",
    oracle=r"""
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_unique,
           COUNT(*) - COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_dupes
    FROM documents GROUP BY source
    """,
)
def d_exact_dedup_stats(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents").withColumn("fp", F.md5(norm_text()))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        (F.count("*") - F.countDistinct("fp")).alias("n_dupes"),
    )


_SHINGLE_SQL = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(0, len(t) - 2),
                                   i -> array_to_string(t[i + 1 : i + 3], ' '))) AS shingle
      FROM toks),
    shingled AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS shingle_hash
      FROM grams)
"""


@query(
    "d_jaccard_top_pairs",
    oracle=_SHINGLE_SQL
    + r"""
    , dfreq AS (SELECT shingle_hash, COUNT(*) AS df FROM shingled GROUP BY shingle_hash),
    capped AS (
      SELECT s.doc_id, s.shingle_hash
      FROM shingled s JOIN dfreq f ON s.shingle_hash = f.shingle_hash
      WHERE f.df <= 50),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM capped a JOIN capped b
        ON a.shingle_hash = b.shingle_hash AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, n_common,
           ROUND(n_common * 1.0 / (na.n + nb.n - n_common), 6) AS jaccard
    FROM common
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    ORDER BY jaccard DESC, id_a, id_b
    LIMIT 20
    """,
    headline=True,
)
def d_jaccard_top_pairs(spark, sf_dir):
    """Top exact-Jaccard pairs via the inverted-index join, with the
    hot-shingle document-frequency cap (<= 50) that bounds posting-list
    length — the guard against one boilerplate shingle in k docs emitting
    k² join rows at corpus scale. The oracle applies the same cap."""
    shingled = doc_shingles(read_table(spark, sf_dir, "documents"))
    return (
        jaccard_pairs(shingled, max_doc_freq=50)
        .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(20)
    )


def _minhash_sql(num_hashes: int = 8) -> str:
    exprs = []
    for i in range(num_hashes):
        a, b = MINHASH_COEFFS[i]
        exprs.append(
            f"MIN(((shingle_hash % {MINHASH_PRIME}) * {a} + {b}) % {MINHASH_PRIME}) AS minhash_{i}"
        )
    return _SHINGLE_SQL + f"SELECT doc_id, {', '.join(exprs)} FROM shingled GROUP BY doc_id"


@query("d_minhash_signatures", oracle=_minhash_sql(), headline=True)
def d_minhash_signatures(spark, sf_dir):
    shingled = doc_shingles(read_table(spark, sf_dir, "documents"), distinct=False)
    return minhash_signatures(shingled, num_hashes=8)


def _lsh_sql(bands: int = 4, rows_per_band: int = 2) -> str:
    sig = _minhash_sql(bands * rows_per_band)
    band_selects = []
    for b in range(bands):
        cols = [f"minhash_{b * rows_per_band + r}" for r in range(rows_per_band)]
        concat = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(f"SELECT doc_id, {b} AS band, {concat} AS key FROM sig")
    banded = " UNION ALL ".join(band_selects)
    return (
        f"WITH sig AS ({sig}), banded AS ({banded}) "
        "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
        "FROM banded a JOIN banded b "
        "ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id"
    )


@query("d_lsh_candidate_pairs", oracle=_lsh_sql(), headline=True)
def d_lsh_candidate_pairs(spark, sf_dir):
    shingled = doc_shingles(read_table(spark, sf_dir, "documents"), distinct=False)
    sigs = minhash_signatures(shingled, num_hashes=8)
    return lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)


@query(
    "d_dup_clusters",
    oracle="WITH RECURSIVE pairs AS (" + _lsh_sql() + """),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (SELECT a, b FROM sym
                    UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
    comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a)
    SELECT component, COUNT(*) AS n_members
    FROM comp GROUP BY component
    """,
    headline=True,
)
def d_dup_clusters(spark, sf_dir):
    """Near-duplicate *clusters*: LSH candidate pairs → distributed connected
    components (alternating large-star/small-star, operators/components.py)
    → cluster sizes keyed by the minimum doc id. The oracle computes the same
    closure with a recursive CTE. This is the step that turns pair lists into
    keep/drop dedup decisions at corpus scale."""
    from ..operators.components import connected_components

    cc = connected_components(d_lsh_candidate_pairs(spark, sf_dir))
    # cc rows are (member -> component) for non-root members; add the root
    return cc.groupBy("component").agg((F.count("*") + 1).alias("n_members"))


def _simhash_sql(bits: int = 16) -> str:
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS bit_{b}" for b in range(bits)
    )
    recompose = " + ".join(f"CASE WHEN bit_{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits))
    return rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      FROM documents),
    hashed AS (
      SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
    bits AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM bits
    """


@query("d_simhash", oracle=_simhash_sql())
def d_simhash(spark, sf_dir):
    return simhash(read_table(spark, sf_dir, "documents"), bits=16)


def _cos_sql(a: str, b: str) -> str:
    """Unguarded cosine (NaN when either norm is zero). Symmetric with the
    unguarded Spark expression paths (`_cos_col`, `with_cosine`): both
    engines produce NaN AND both order NaN above every real value under
    DESC, so cross-engine hashes agree even on degenerate input — but
    top-k QUALITY degrades, so zero-norm vectors are a documented caller
    precondition on these paths. Pair with :func:`_cos_sql_guarded` for
    oracles whose Spark twin is a GUARDED Arrow kernel (ADVICE r9 #3)."""
    return (
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})))"
    )


def _dot_col(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _cos_col(a, b):
    return _dot_col(a, b) / (F.sqrt(_dot_col(a, a)) * F.sqrt(_dot_col(b, b)))


def _emb(spark, sf_dir, extra_cols=()):
    emb = read_table(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select("vec_id", *extra_cols, e.alias("v"))


@query(
    "d_embedding_neardup",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (
      SELECT b.vec_id AS b_id
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE {_cos_sql('a.v', 'b.v')} >= 0.4),
    removed AS (SELECT DISTINCT b_id FROM pairs)
    SELECT e.label, COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN r.b_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM e LEFT JOIN removed r ON e.vec_id = r.b_id
    GROUP BY e.label
    """,
)
def d_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate removal: a vector is dropped when any
    lower-id vector is within cosine >= 0.4; per-label survivor stats.
    This is the EXACT all-pairs query (the LSH-pruned scale twin is
    d_semdedup_lsh); exactness doesn't excuse an O(n²)-row join, so the
    pairs run through the block-pair fan-out (_allpairs_cosine_removed):
    O(n·B) rows moved, (n/B)²-sized vectorized matrix tasks, bit-identical
    per-pair arithmetic. r4's cross-join + interpreted HOF cosine took 69 s
    at sf0.1; this runs ~1 s against the identical oracle."""
    e = _emb(spark, sf_dir, extra_cols=("label",))
    ev = e.select("vec_id", "v", _dot_col(F.col("v"), F.col("v")).alias("n2"))
    removed = _allpairs_cosine_removed(ev, threshold=0.4, n_blocks=8).distinct()
    return (
        e.join(removed, e.vec_id == removed.b_id, "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("b_id").isNotNull(), 1).otherwise(0)).alias("n_removed"),
        )
    )


# Scale sf0.01: the MLlib LSH hash family has no SQL form, but the output is deterministic
# (seeded hash functions), verified across masters and partition counts before
# snapshotting; at any other scale it differs by construction.
@query(
    "d_mllib_minhash_join",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(70 AS BIGINT), CAST(447 AS BIGINT), CAST(0.01087 AS DOUBLE)),
      (CAST(98 AS BIGINT), CAST(290 AS BIGINT), CAST(0.01087 AS DOUBLE)),
      (CAST(285 AS BIGINT), CAST(301 AS BIGINT), CAST(0.01087 AS DOUBLE)),
      (CAST(8 AS BIGINT), CAST(245 AS BIGINT), CAST(0.012195 AS DOUBLE)),
      (CAST(393 AS BIGINT), CAST(420 AS BIGINT), CAST(0.012658 AS DOUBLE)),
      (CAST(45 AS BIGINT), CAST(413 AS BIGINT), CAST(0.012987 AS DOUBLE)),
      (CAST(267 AS BIGINT), CAST(413 AS BIGINT), CAST(0.013158 AS DOUBLE)),
      (CAST(58 AS BIGINT), CAST(293 AS BIGINT), CAST(0.014286 AS DOUBLE)),
      (CAST(166 AS BIGINT), CAST(323 AS BIGINT), CAST(0.016667 AS DOUBLE)),
      (CAST(458 AS BIGINT), CAST(462 AS BIGINT), CAST(0.017241 AS DOUBLE)),
      (CAST(61 AS BIGINT), CAST(185 AS BIGINT), CAST(0.017544 AS DOUBLE)),
      (CAST(31 AS BIGINT), CAST(383 AS BIGINT), CAST(0.02381 AS DOUBLE)),
      (CAST(72 AS BIGINT), CAST(377 AS BIGINT), CAST(0.02439 AS DOUBLE)),
      (CAST(45 AS BIGINT), CAST(267 AS BIGINT), CAST(0.025974 AS DOUBLE)),
      (CAST(107 AS BIGINT), CAST(387 AS BIGINT), CAST(0.026316 AS DOUBLE)),
      (CAST(152 AS BIGINT), CAST(178 AS BIGINT), CAST(0.027027 AS DOUBLE)),
      (CAST(120 AS BIGINT), CAST(332 AS BIGINT), CAST(0.028571 AS DOUBLE)),
      (CAST(326 AS BIGINT), CAST(457 AS BIGINT), CAST(0.028571 AS DOUBLE)),
      (CAST(295 AS BIGINT), CAST(374 AS BIGINT), CAST(0.033333 AS DOUBLE)),
      (CAST(435 AS BIGINT), CAST(486 AS BIGINT), CAST(0.033333 AS DOUBLE)),
      (CAST(310 AS BIGINT), CAST(389 AS BIGINT), CAST(0.038462 AS DOUBLE)),
      (CAST(92 AS BIGINT), CAST(450 AS BIGINT), CAST(0.041667 AS DOUBLE)),
      (CAST(44 AS BIGINT), CAST(446 AS BIGINT), CAST(0.043478 AS DOUBLE)),
      (CAST(87 AS BIGINT), CAST(134 AS BIGINT), CAST(0.045455 AS DOUBLE)),
      (CAST(26 AS BIGINT), CAST(455 AS BIGINT), CAST(0.1 AS DOUBLE))
    ) AS t(id_a, id_b, jaccard_dist)
    """,
    scale="sf0.01",
)
def d_mllib_minhash_join(spark, sf_dir):
    """MLlib MinHashLSH approxSimilarityJoin near-dup pairs (rows-only;
    seeded). The all-pairs-free Jaccard join at corpus scale."""
    from ..operators.mllib_lsh import minhash_similarity_join

    docs = read_table(spark, sf_dir, "documents")
    return (
        minhash_similarity_join(docs, max_jaccard_distance=0.5)
        .orderBy("jaccard_dist", "id_a", "id_b")
        .limit(50)
    )


_CONTAMINATION_SQL = r"""
    WITH toks AS (
      SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, source,
             unnest(list_transform(range(0, len(t) - 4),
                                   i -> array_to_string(t[i + 1 : i + 5], ' '))) AS shingle
      FROM toks WHERE len(t) >= 5),
    shingled AS (
      SELECT DISTINCT doc_id, source,
             CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS shingle_hash
      FROM grams),
    bench AS (SELECT DISTINCT shingle_hash FROM shingled WHERE doc_id % 97 = 0),
    contaminated AS (
      SELECT DISTINCT s.doc_id, s.source
      FROM shingled s JOIN bench USING (shingle_hash)
      WHERE s.doc_id % 97 <> 0)
    SELECT c.source, COUNT(*) AS n_contaminated
    FROM contaminated c GROUP BY c.source
    """


@query("d_contamination", oracle=_CONTAMINATION_SQL)
def d_contamination(spark, sf_dir):
    """Benchmark decontamination screen: flag corpus docs sharing any word
    5-gram with a held-out benchmark set (docs with doc_id % 97 == 0 stand
    in). The benchmark shingle set broadcasts; the corpus side streams
    through one semi-join — never an all-pairs comparison."""
    from ..operators.filtering import contaminated_docs

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    flagged = contaminated_docs(corpus, bench, n=5)
    return (
        flagged.join(docs.select("doc_id", "source"), on="doc_id")
        .groupBy("source")
        .agg(F.count("*").alias("n_contaminated"))
    )


# the DuckDB form of the lowercase alphanumeric word tokenizer, shared by the
# dedup, retrieval and text oracles
_TOK = r"regexp_extract_all(lower(text), '[a-z0-9]+')"


# -- data-quality / warehouse additions --------------------------------------


def _pair_degree_sql() -> str:
    return f"""
    WITH pairs AS ({_lsh_sql()}),
    ends AS (
      SELECT id_a AS doc_id FROM pairs UNION ALL SELECT id_b FROM pairs
    )
    SELECT doc_id, COUNT(*) AS degree FROM ends GROUP BY doc_id
    """


@query("d_pair_degrees", oracle=_pair_degree_sql())
def d_pair_degrees(spark, sf_dir):
    """Candidate-pair graph degrees (dedup-family addition): how many
    near-dup candidates each document participates in — the triage signal
    for boilerplate/template detection (very high degree = boilerplate,
    not plagiarism). Runs on the pruned LSH pair set, never all-pairs."""
    from ..operators.dedup import doc_shingles, lsh_candidate_pairs, minhash_signatures

    shingled = doc_shingles(read_table(spark, sf_dir, "documents"), distinct=False)
    pairs = lsh_candidate_pairs(minhash_signatures(shingled, num_hashes=8), bands=4, rows_per_band=2)
    ends = pairs.select(F.col("id_a").alias("doc_id")).unionAll(
        pairs.select(F.col("id_b").alias("doc_id"))
    )
    return ends.groupBy("doc_id").agg(F.count("*").alias("degree"))


def _triangle_sql() -> str:
    return f"""
    WITH pairs AS ({_lsh_sql()})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM pairs e1
    JOIN pairs e2 ON e1.id_b = e2.id_a
    JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    """


@query("d_triangle_count", oracle=_triangle_sql())
def d_triangle_count(spark, sf_dir):
    """Triangle counting on the near-dup candidate graph (dedup-family
    addition): the density signal distinguishing template clusters (many
    triangles) from chance collisions (none). Edges are canonically ordered
    (id_a < id_b) so each triangle counts exactly once; two joins on the
    pruned pair set — the standard distributed triangle enumeration, never
    touching the full corpus."""
    from ..operators.dedup import doc_shingles, lsh_candidate_pairs, minhash_signatures

    shingled = doc_shingles(read_table(spark, sf_dir, "documents"), distinct=False)
    pairs = lsh_candidate_pairs(
        minhash_signatures(shingled, num_hashes=8), bands=4, rows_per_band=2
    ).select("id_a", "id_b")
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.id_b") == F.col("e2.id_a"))
        .join(
            e3,
            (F.col("e3.id_a") == F.col("e1.id_a")) & (F.col("e3.id_b") == F.col("e2.id_b")),
        )
    )
    return tri.agg(F.count("*").alias("n_triangles"))


def _minhash_accuracy_sql() -> str:
    from ..operators.dedup import MINHASH_COEFFS, MINHASH_PRIME

    mh = ", ".join(
        f"MIN(((shingle_hash % {MINHASH_PRIME}) * {a} + {b}) % {MINHASH_PRIME}) AS minhash_{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS[:8])
    )
    bands = []
    for b in range(4):
        cols = [f"minhash_{b * 2 + r}" for r in range(2)]
        concat = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        bands.append(f"SELECT doc_id, {b} AS band, {concat} AS key FROM sig")
    banded = " UNION ALL ".join(bands)
    agree = " + ".join(
        f"CASE WHEN sa.minhash_{i} = sb.minhash_{i} THEN 1 ELSE 0 END" for i in range(8)
    )
    return (
        _SHINGLE_SQL
        + f"""
    , sig AS (SELECT doc_id, {mh} FROM shingled GROUP BY doc_id),
    banded AS ({banded}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingled GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM shingled a JOIN shingled b
        ON a.shingle_hash = b.shingle_hash AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.id_a, p.id_b,
           CAST({agree} AS BIGINT) AS n_agree,
           ROUND(({agree}) / 8.0, 6) AS estimate,
           ROUND(COALESCE(c.n_common, 0) * 1.0
                 / (na.n + nb.n - COALESCE(c.n_common, 0)), 6) AS jaccard
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.id_a
    JOIN sig sb ON sb.doc_id = p.id_b
    JOIN sizes na ON na.doc_id = p.id_a
    JOIN sizes nb ON nb.doc_id = p.id_b
    LEFT JOIN common c ON c.id_a = p.id_a AND c.id_b = p.id_b
    """
    )


@query("d_minhash_accuracy", oracle=_minhash_accuracy_sql())
def d_minhash_accuracy(spark, sf_dir):
    """MinHash estimator calibration (dedup-family addition): per LSH
    candidate pair, the signature-agreement estimate (n_agree/8) next to
    the EXACT Jaccard — the measurement that tells you whether the band
    configuration is over/under-recalling. Runs only on the pruned pair
    set; both estimates come from data already materialized by the dedup
    chain."""
    from ..operators.dedup import (
        doc_shingles,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    shingled = doc_shingles(read_table(spark, sf_dir, "documents"))
    sigs = minhash_signatures(shingled, num_hashes=8)
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2).select("id_a", "id_b")
    sa = sigs.select(F.col("doc_id").alias("id_a"), *[F.col(f"minhash_{i}").alias(f"a{i}") for i in range(8)])
    sb = sigs.select(F.col("doc_id").alias("id_b"), *[F.col(f"minhash_{i}").alias(f"b{i}") for i in range(8)])
    agree = sum(F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(8))
    est = pairs.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b",
        agree.cast("bigint").alias("n_agree"),
        F.round(agree / 8.0, 6).alias("estimate"),
    )
    exact = jaccard_pairs(shingled, candidates=pairs).select("id_a", "id_b", "jaccard")
    return (
        est.join(exact, ["id_a", "id_b"], "left")
        .withColumn("jaccard", F.coalesce(F.col("jaccard"), F.lit(0.0)))
    )


@query(
    "d_edit_distance",
    oracle="""
    WITH a AS (SELECT doc_id, substring(text, 1, 40) AS prefix FROM documents)
    SELECT x.doc_id AS left_id, y.doc_id AS right_id,
           levenshtein(x.prefix, y.prefix) AS dist
    FROM a x JOIN a y ON y.doc_id = x.doc_id + 1
    WHERE levenshtein(x.prefix, y.prefix) <= 30
    """,
)
def d_edit_distance(spark, sf_dir):
    """Edit-distance near-dup verification (dedup-family addition): the
    expensive exact Levenshtein runs only on candidate pairs (here adjacent
    ids as a stand-in for LSH candidates — the same shape as
    d_lsh_candidate_pairs feeding a verify stage). Integer result, exact in
    both engines."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("prefix")
    )
    right = d.select(
        (F.col("doc_id") - 1).alias("join_id"),
        F.col("doc_id").alias("right_id"),
        F.col("prefix").alias("rprefix"),
    )
    return (
        d.join(right, d.doc_id == right.join_id)
        .withColumn("dist", F.levenshtein("prefix", "rprefix"))
        .filter(F.col("dist") <= 30)
        .select(F.col("doc_id").alias("left_id"), "right_id", "dist")
    )


def _dbl(x: float) -> str:
    """A double literal DuckDB parses to the same bits Spark's F.lit gives."""
    return f"CAST({x!r} AS DOUBLE)"


def _countmin_sql(depth: int = 4, width: int = 256, top_k: int = 20) -> str:
    rows = ", ".join(str(i) for i in range(depth))
    bucket = (
        "CAST(('0x' || substring(md5(CAST(rw AS VARCHAR) || ':' || term), 1, 15)) "
        f"AS BIGINT) % {width}"
    )
    return f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    counts AS (SELECT term, COUNT(*) AS true_count FROM tok GROUP BY term),
    expanded AS (SELECT term, true_count, unnest([{rows}]) AS rw FROM counts),
    hashed AS (SELECT term, true_count, rw, {bucket} AS bucket FROM expanded),
    sketch AS (SELECT rw, bucket, CAST(SUM(true_count) AS BIGINT) AS bucket_count
               FROM hashed GROUP BY 1, 2),
    cand AS (SELECT term, true_count FROM counts
             ORDER BY true_count DESC, term LIMIT {top_k}),
    cand_exp AS (SELECT term, true_count, unnest([{rows}]) AS rw FROM cand),
    cand_rows AS (SELECT term, true_count, rw, {bucket} AS bucket FROM cand_exp)
    SELECT c.term, MIN(c.true_count) AS true_count,
           MIN(s.bucket_count) AS cm_estimate,
           MIN(s.bucket_count) - MIN(c.true_count) AS overcount
    FROM cand_rows c JOIN sketch s ON c.rw = s.rw AND c.bucket = s.bucket
    GROUP BY c.term
    """


@query("d_countmin_heavyhitters", oracle=_countmin_sql())
def d_countmin_heavyhitters(spark, sf_dir):
    """Count-Min sketch point-queries for the exact top-20 terms (engine
    addition §2.12, operators/retrieval.py). Integer-exact end to end; the
    d×w sketch is the mergeable 100 TB heavy-hitter path."""
    return countmin_estimates(read_table(spark, sf_dir, "documents"))


_DUP_SPAN_SQL = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
    starts AS (
      SELECT doc_id, t, unnest(range(0, len(t) - 7)) AS i FROM toks),
    spans AS (
      SELECT doc_id, i AS pos,
             CAST(('0x' || substring(md5(array_to_string(t[i + 1 : i + 8], ' ')), 1, 15)) AS BIGINT) AS fp
      FROM starts),
    counts AS (SELECT fp, LEAST(COUNT(*), 10000) AS n_occ FROM spans GROUP BY fp),
    stats AS (
      SELECT s.doc_id, COUNT(*) AS n_windows,
             SUM(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS n_dup
      FROM spans s JOIN counts c ON s.fp = c.fp GROUP BY s.doc_id)
    SELECT d.source, COUNT(*) AS n_docs,
           CAST(COALESCE(SUM(st.n_windows), 0) AS BIGINT) AS total_windows,
           CAST(COALESCE(SUM(st.n_dup), 0) AS BIGINT) AS dup_windows,
           ROUND(CAST(SUM(st.n_dup) AS DOUBLE) / SUM(st.n_windows), 6) AS dup_fraction,
           CAST(SUM(CASE WHEN CAST(st.n_dup AS DOUBLE) / st.n_windows >= 0.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy_dup_docs
    FROM documents d LEFT JOIN stats st ON d.doc_id = st.doc_id
    GROUP BY d.source
    """


@query("d_dup_spans", oracle=_DUP_SPAN_SQL, headline=True)
def d_dup_spans(spark, sf_dir):
    """Span-level duplication profile (the 'deduplicating training data'
    shape, engine addition §2.12): rolling 8-token window fingerprints with
    positions, per-doc duplicated-window fraction, rolled up per source.
    One fp hash-agg + one co-keyed join back — the corpus never self-joins,
    so unlike pair-level Jaccard there is no k² term to cap."""
    from ..operators.dedup import dup_span_stats, window_fingerprints

    docs = read_table(spark, sf_dir, "documents")
    stats = dup_span_stats(window_fingerprints(docs, window=8))
    j = docs.select("doc_id", "source").join(stats, "doc_id", "left")
    frac = F.col("n_dup_windows").cast("double") / F.col("n_windows")
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("n_windows"), F.lit(0)).alias("total_windows"),
        F.coalesce(F.sum("n_dup_windows"), F.lit(0)).alias("dup_windows"),
        F.round(
            F.sum("n_dup_windows").cast("double") / F.sum("n_windows"), 6
        ).alias("dup_fraction"),
        F.sum(F.when(frac >= 0.5, 1).otherwise(0)).alias("n_heavy_dup_docs"),
    )


def _keep_best_sql() -> str:
    return (
        "WITH RECURSIVE pairs AS (" + _lsh_sql() + r"""),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (SELECT a, b FROM sym
                    UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
    comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a),
    q AS (
      SELECT doc_id,
             ROUND(CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 10 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) > 0.6 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text) < 0.1 THEN 0.2 ELSE 0.0 END, 6) AS quality_score
      FROM documents),
    ranked AS (
      SELECT c.component, c.doc_id, q.quality_score,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY q.quality_score DESC, c.doc_id) AS rn
      FROM comp c JOIN q ON c.doc_id = q.doc_id)
    SELECT component,
           MIN(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
           MIN(CASE WHEN rn = 1 THEN quality_score END) AS keep_quality,
           COUNT(*) AS n_members,
           COUNT(*) - 1 AS n_dropped
    FROM ranked GROUP BY component
    """
    )


@query("d_cluster_keep_best", oracle=_keep_best_sql(), headline=True)
def d_cluster_keep_best(spark, sf_dir):
    """The dedup *decision* step: near-dup clusters (LSH pairs → distributed
    connected components) each keep their highest-quality member
    (tie → lowest id) and drop the rest — quality-aware canonical selection
    rather than min-id. One window over the component key; membership and
    quality are co-keyed joins. The oracle recomputes the closure with a
    recursive CTE."""
    from ..operators.components import connected_components
    from ..operators.text import with_quality

    docs = read_table(spark, sf_dir, "documents")
    cc = connected_components(d_lsh_candidate_pairs(spark, sf_dir))
    members = cc.unionByName(
        cc.select(F.col("component").alias("id"), "component").distinct()
    )
    q = with_quality(docs).select(F.col("doc_id").alias("id"), "quality_score")
    w = Window.partitionBy("component").orderBy(
        F.col("quality_score").desc(), F.col("id")
    )
    ranked = members.join(q, "id").withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("component").agg(
        F.min(F.when(F.col("rn") == 1, F.col("id"))).alias("keep_id"),
        F.min(F.when(F.col("rn") == 1, F.col("quality_score"))).alias("keep_quality"),
        F.count("*").alias("n_members"),
        (F.count("*") - 1).alias("n_dropped"),
    )


def _semdedup_sql() -> str:
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    planes AS (SELECT vec_id AS plane_id, v AS p FROM e WHERE vec_id BETWEEN 1 AND 4),
    buckets AS (
      SELECT e.vec_id,
             CAST(SUM(CASE WHEN list_dot_product(e.v, p.p) > 0
                           THEN 1 << (p.plane_id - 1) ELSE 0 END) AS BIGINT) AS bucket
      FROM e CROSS JOIN planes p GROUP BY e.vec_id),
    be AS (SELECT e.vec_id, e.label, e.v, b.bucket
           FROM e JOIN buckets b ON e.vec_id = b.vec_id),
    removed AS (
      SELECT DISTINCT b.vec_id AS b_id
      FROM be a JOIN be b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {_cos_sql('a.v', 'b.v')} >= 0.4)
    SELECT be.label, COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN r.b_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM be LEFT JOIN removed r ON be.vec_id = r.b_id
    GROUP BY be.label
    """


@query("d_semdedup_lsh", oracle=_semdedup_sql())
def d_semdedup_lsh(spark, sf_dir):
    """SemDeDup at scale: embedding near-duplicate removal where candidate
    pairs only meet inside a sign-LSH bucket (planes drawn from the data so
    the oracle is SQL-expressible), the bucketed twin of the exact all-pairs
    d_embedding_neardup. The bucket self-join is a hash join on the bucket
    key — never an all-pairs cross product; at corpus scale more planes →
    exponentially more, smaller buckets, the same plan shape."""
    e = _emb(spark, sf_dir, extra_cols=("label",))
    planes = e.filter(F.col("vec_id").between(1, 4)).select(
        F.col("vec_id").alias("plane_id"), F.col("v").alias("p")
    )
    buckets = (
        e.crossJoin(F.broadcast(planes))
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.when(
                    _dot_col(F.col("v"), F.col("p")) > 0,
                    F.expr("shiftleft(1, cast(plane_id as int) - 1)"),
                ).otherwise(0)
            ).alias("bucket")
        )
    )
    from ..cache import tracked_persist

    # bucketed vectors feed both self-join sides AND the final stats join —
    # persist so the bucket computation runs once (same single-lineage rule
    # as lsh_candidate_pairs; production stages this to a table)
    be = tracked_persist(e.join(buckets, "vec_id"))
    a, b = be.alias("a"), be.alias("b")
    removed = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(_cos_col(F.col("a.v"), F.col("b.v")) >= 0.4)
        .select(F.col("b.vec_id").alias("b_id"))
        .distinct()
    )
    return (
        be.join(removed, be.vec_id == removed.b_id, "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("b_id").isNotNull(), 1).otherwise(0)).alias("n_removed"),
        )
    )


def _semdedup_removed_ctes(suffix: str = "") -> str:
    """The 4x4-bit OR-amplified SemDeDup removal-set CTE chain (suffixable
    so it composes with other CTE families without name collisions) —
    ends with ``removed{suffix}(b_id)``."""
    s = suffix
    return f"""e{s} AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    planes{s} AS (SELECT vec_id AS plane_id, v AS p FROM e{s} WHERE vec_id BETWEEN 1 AND 16),
    keys{s} AS (
      SELECT e{s}.vec_id, (p.plane_id - 1) // 4 AS tbl,
             CAST(SUM(CASE WHEN list_dot_product(e{s}.v, p.p) > 0
                           THEN 1 << CAST((p.plane_id - 1) % 4 AS INT) ELSE 0 END) AS BIGINT) AS bucket
      FROM e{s} CROSS JOIN planes{s} p GROUP BY e{s}.vec_id, (p.plane_id - 1) // 4),
    cand{s} AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM keys{s} a JOIN keys{s} b ON a.tbl = b.tbl AND a.bucket = b.bucket
                             AND a.vec_id < b.vec_id),
    removed{s} AS (
      SELECT DISTINCT c.id_b AS b_id
      FROM cand{s} c JOIN e{s} ea ON c.id_a = ea.vec_id JOIN e{s} eb ON c.id_b = eb.vec_id
      WHERE {_cos_sql('ea.v', 'eb.v')} >= 0.4)"""


def _semdedup_multitable_sql() -> str:
    return f"""
    WITH el AS (SELECT vec_id, label FROM embeddings),
    {_semdedup_removed_ctes()}
    SELECT el.label, COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN r.b_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM el LEFT JOIN removed r ON el.vec_id = r.b_id
    GROUP BY el.label
    """


def semdedup_multitable_stats(
    e, threshold: float = 0.4, n_tables: int = 4, bits_per_table: int = 4, planes=None
) -> "F.DataFrame":
    """OR-amplified SemDeDup over a ``(vec_id, label, v)`` frame:
    ``n_tables`` independent sign-LSH tables of ``bits_per_table`` planes
    each (planes = vectors with vec_id 1..n_tables*bits_per_table); a pair
    is a candidate if it collides in ANY table, then candidates-only cosine
    verification, per-label survivor stats. Extracted from the query so
    tools/scale_probe.py can drive it on blown-up corpora.

    SIZE THE BITS TO THE CORPUS: expected bucket size is n / 2^bits, and
    the within-bucket verify is quadratic in it — growing the corpus 10x
    at fixed bits measured 33x wall, while adding log2(10) ≈ 3-4 bits per
    table keeps bucket sizes (and per-pair work ∝ n) constant. That rule is
    code now (`operators.similarity.auto_bits_per_table`, applied
    programmatically by tools/scale_probe.py); the certified query keeps
    4x4 so the oracle stays SQL-small. Pass ``planes`` to override the
    data-derived plane vectors (scale runs need more planes than the
    corpus carries as rows)."""
    n_planes = n_tables * bits_per_table
    if planes is None:
        # the plane vectors are O(model): collect once (vec_ids 1..n_planes
        # double as the hyperplane model so the DuckDB oracle can rebuild it)
        plane_rows = {
            r["vec_id"]: list(r["v"])
            for r in e.filter(F.col("vec_id").between(1, n_planes)).select("vec_id", "v").collect()
        }
        planes = [plane_rows[i + 1] for i in range(n_planes)]
    # fused key build + within-bucket verify: ONE Arrow pass emits
    # (vec_id, tbl, bucket, v, n2) directly (_sign_lsh_bev — no key/vector
    # re-join, and in particular no full-corpus broadcast, the ADVICE r5
    # hazard), then each (tbl, bucket) group computes its (n, n) cosine
    # matrix vectorized — same pairs, same bit-exact per-pair fold
    # arithmetic, dedup across tables via the id-level distinct. The only
    # shuffle in the whole chain is the verify grouping of ~n_tables x n
    # ledger rows.
    # partition-grouped verify: one Python call per partition (pandas
    # groupby inside) instead of per bucket — task count follows the scan's
    # input parallelism, so it scales with the corpus while sf0.1's 64 tiny
    # buckets stop paying 64 Arrow round-trips
    nparts = max(4, e.rdd.getNumPartitions())
    bev = _sign_lsh_bev(e, planes, n_tables=n_tables, bits_per_table=bits_per_table)
    removed = _bucket_cosine_removed(bev, threshold=threshold, partitions=nparts).distinct()
    return (
        e.join(removed, e.vec_id == removed.b_id, "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("b_id").isNotNull(), 1).otherwise(0)).alias("n_removed"),
        )
    )


@query("d_semdedup_multitable", oracle=_semdedup_multitable_sql(), headline=True)
def d_semdedup_multitable(spark, sf_dir):
    """OR-amplified SemDeDup: 4 independent sign-LSH tables of 4 planes
    each; a pair is a candidate if it collides in ANY table (union via the
    (table, bucket) join key — exactly the MinHash banding trick applied to
    sign bits), then candidates-only cosine verification. Takes single-table
    pair recall at cosine 0.4 from ~16% to ~50%; more tables amplify
    further at linear cost, never all-pairs. Body in
    :func:`semdedup_multitable_stats` (shared with the 10x blowup probe)."""
    return semdedup_multitable_stats(_emb(spark, sf_dir, extra_cols=("label",)))


def _pagerank_sql() -> str:
    parts = [
        "WITH pairs AS (" + _lsh_sql() + ")",
        """sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs)""",
        "deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS n FROM deg)",
        f"""r0 AS (SELECT src, deg, ROUND({_dbl(1.0)} / nn.n, 9) AS pr
                   FROM deg CROSS JOIN nn)""",
    ]
    for i in range(1, 4):
        parts.append(
            f"""c{i} AS (SELECT e.dst AS dst,
                      CAST(ROUND(r.pr / r.deg, 12) AS DECIMAL(26,12)) AS c
               FROM sym e JOIN r{i - 1} r ON e.src = r.src)"""
        )
        parts.append(
            f"s{i} AS (SELECT dst, CAST(SUM(c) AS DOUBLE) AS s FROM c{i} GROUP BY dst)"
        )
        parts.append(
            f"""r{i} AS (SELECT d.src, d.deg,
                      ROUND({_dbl(1.0 - 0.85)} / nn.n
                            + {_dbl(0.85)} * COALESCE(s.s, {_dbl(0.0)}), 9) AS pr
               FROM deg d LEFT JOIN s{i} s ON d.src = s.dst CROSS JOIN nn)"""
        )
    return ",\n".join(parts) + "\nSELECT src AS id, pr FROM r3"


@query("d_pagerank", oracle=_pagerank_sql(), headline=True)
def d_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank over the LSH near-dup candidate graph
    (operators/components.py:76): boilerplate-template hubs become high-PR
    nodes. Each iteration is one co-partitioned hash join + one map-side
    combinable aggregation; DECIMAL contribution sums + per-iteration
    round(9) keep both engines bit-identical."""
    return pagerank(d_lsh_candidate_pairs(spark, sf_dir), iters=3, damping=0.85)


# ---------------------------------------------------------------------------
# Round-5: certified recall of the OR-amplified SemDeDup candidate generator
# vs ground truth — the docstring's "~16% -> ~50% pair recall" claim as a
# hash-checked number instead of prose.
# ---------------------------------------------------------------------------


def _semdedup_recall_sql() -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    exact_removed AS (
      SELECT DISTINCT b.vec_id AS b_id
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE {_cos_sql('a.v', 'b.v')} >= 0.4),
    planes AS (SELECT vec_id AS plane_id, v AS p FROM e WHERE vec_id BETWEEN 1 AND 16),
    keys AS (
      SELECT e.vec_id, (p.plane_id - 1) // 4 AS tbl,
             CAST(SUM(CASE WHEN list_dot_product(e.v, p.p) > 0
                           THEN 1 << CAST((p.plane_id - 1) % 4 AS INT) ELSE 0 END) AS BIGINT) AS bucket
      FROM e CROSS JOIN planes p GROUP BY e.vec_id, (p.plane_id - 1) // 4),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM keys a JOIN keys b ON a.tbl = b.tbl AND a.bucket = b.bucket
                             AND a.vec_id < b.vec_id),
    lsh_removed AS (
      SELECT DISTINCT c.id_b AS b_id
      FROM cand c JOIN e ea ON c.id_a = ea.vec_id JOIN e eb ON c.id_b = eb.vec_id
      WHERE {_cos_sql('ea.v', 'eb.v')} >= 0.4)
    SELECT
      (SELECT COUNT(*) FROM exact_removed) AS n_exact,
      (SELECT COUNT(*) FROM lsh_removed) AS n_lsh,
      (SELECT COUNT(*) FROM exact_removed x
        WHERE EXISTS (SELECT 1 FROM lsh_removed l WHERE l.b_id = x.b_id)) AS n_common
    """


@query("d_semdedup_recall", oracle=_semdedup_recall_sql())
def d_semdedup_recall(spark, sf_dir):
    """Removal-set recall of the 4x4-bit OR-amplified SemDeDup vs exact
    ground truth at cosine 0.4: (n_exact, n_lsh, n_common) as exact BIGINTs
    — n_lsh ⊆ n_exact by construction (every LSH removal is cosine-verified),
    so n_common == n_lsh and n_lsh / n_exact IS the amplified recall the
    family's docstrings claim. Ground truth runs through the block-pair
    fan-out (never a cartesian join); the LSH side is the certified
    multitable path."""
    from ..cache import tracked_persist

    e = _emb(spark, sf_dir)
    ev = e.select("vec_id", "v", _dot_col(F.col("v"), F.col("v")).alias("n2"))
    # both removal sets are read three times (their count + the overlap
    # join) — persist so each kernel pipeline executes once
    exact = tracked_persist(
        _allpairs_cosine_removed(ev, threshold=0.4, n_blocks=8).distinct()
    )
    plane_rows = {
        r["vec_id"]: list(r["v"])
        for r in e.filter(F.col("vec_id").between(1, 16)).select("vec_id", "v").collect()
    }
    # fused key build: one Arrow pass emits the bucketed-vector rows with
    # (v, n2) in hand — no corpus-wide key/vector re-join (ADVICE r5)
    bev = _sign_lsh_bev(
        e, [plane_rows[i + 1] for i in range(16)], n_tables=4, bits_per_table=4
    )
    lsh = tracked_persist(
        _bucket_cosine_removed(
            bev, threshold=0.4, partitions=max(4, e.rdd.getNumPartitions())
        ).distinct()
    )
    exact_c = exact.count()
    lsh_c = lsh.count()
    common = exact.join(lsh, "b_id", "left_semi").count()
    return spark.createDataFrame(
        [(exact_c, lsh_c, common)], "n_exact bigint, n_lsh bigint, n_common bigint"
    )


@query("d_bloom_decontamination", oracle=_CONTAMINATION_SQL)
def d_bloom_decontamination(spark, sf_dir):
    """The 100 TB decontamination plan: a broadcast relational Bloom bitmap
    prunes corpus shingles before the exact benchmark join (operators/
    bloom.py). Lossless for every (m_bits, k) — this query deliberately
    shares d_contamination's oracle verbatim, so the driver hash-match
    certifies that the Bloom pre-filter changes the plan, not the answer."""
    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    flagged = bloom_contaminated_docs(corpus, bench, n=5, m_bits=1 << 20, k=5)
    return (
        flagged.join(docs.select("doc_id", "source"), on="doc_id")
        .groupBy("source")
        .agg(F.count("*").alias("n_contaminated"))
    )


# ---------------------------------------------------------------------------
# Round-4 late certifications: cross-batch incremental dedup and embedding-
# space benchmark decontamination — both upgrade tested-only operator
# families to driver hash-certified queries.
# ---------------------------------------------------------------------------

_NORM_FP_SQL = r"md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))"


@query(
    "d_incremental_dedup",
    oracle=f"""
    WITH fpb AS (
      SELECT doc_id, source, {_NORM_FP_SQL} AS fingerprint
      FROM (SELECT doc_id, source, text FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id + (1::BIGINT << 40), source, text FROM documents WHERE doc_id % 2 = 0)),
    ledger AS (
      SELECT DISTINCT {_NORM_FP_SQL} AS fingerprint
      FROM documents WHERE doc_id % 4 = 0),
    surv AS (
      SELECT doc_id, source FROM (
        SELECT doc_id, source, fingerprint,
               ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
        FROM fpb
        WHERE NOT EXISTS (SELECT 1 FROM ledger l WHERE l.fingerprint = fpb.fingerprint))
      WHERE rn = 1),
    nb AS (SELECT source, COUNT(*) AS n_batch FROM fpb GROUP BY source),
    ns AS (SELECT source, COUNT(*) AS n_survivors, MIN(doc_id) AS min_surv_id
           FROM surv GROUP BY source)
    SELECT nb.source, nb.n_batch,
           COALESCE(ns.n_survivors, 0) AS n_survivors,
           ns.min_surv_id
    FROM nb LEFT JOIN ns ON nb.source = ns.source
    """,
)
def d_incremental_dedup(spark, sf_dir):
    """Cross-batch incremental dedup (operators/dedup.py:incremental_dedup —
    the streaming-ingest shape of exact dedup, previously tested-only), on
    the re-crawl scenario every production ingest hits: the arriving batch
    is the doc_id % 2 == 0 slice plus an id-shifted copy of itself (a
    re-crawled shard arrives under new ids but identical text), and the
    ledger holds fingerprints of the previously-ingested doc_id % 4 == 0
    docs. So the query certifies BOTH mechanisms with guaranteed non-trivial
    counts: ledger-seen texts (half the batch) drop in the anti-join, and
    each surviving text arrives twice with different ids — the
    keep-lowest-id tie-break is what min_surv_id hash-checks.

    100 TB posture: the ledger anti-join is a hash join on the fingerprint —
    the key both sides are stored by in the durable-ledger deployment — and
    the within-batch window partitions by fingerprint (no global sort)."""
    from ..operators.dedup import incremental_dedup, norm_text

    d = read_table(spark, sf_dir, "documents")
    half = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "source", "text")
    batch = half.unionAll(
        half.select(
            (F.col("doc_id") + F.lit(1 << 40)).alias("doc_id"), "source", "text"
        )
    )
    ledger = (
        d.filter(F.col("doc_id") % 4 == 0)
        .select(F.md5(norm_text()).alias("fingerprint"))
    )
    surv = incremental_dedup(batch, seen=ledger)
    n_batch = batch.groupBy("source").agg(F.count("*").alias("n_batch"))
    n_surv = surv.groupBy("source").agg(
        F.count("*").alias("n_survivors"), F.min("doc_id").alias("min_surv_id")
    )
    return (
        n_batch.join(F.broadcast(n_surv), "source", "left")
        .withColumn("n_survivors", F.coalesce(F.col("n_survivors"), F.lit(0)))
        .select("source", "n_batch", "n_survivors", "min_surv_id")
    )


def _semantic_contamination_sql() -> str:
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    planes AS (SELECT vec_id AS plane_id, v AS p FROM e WHERE vec_id BETWEEN 1 AND 4),
    buckets AS (
      SELECT e.vec_id,
             CAST(SUM(CASE WHEN list_dot_product(e.v, p.p) > 0
                           THEN 1 << (p.plane_id - 1) ELSE 0 END) AS BIGINT) AS bucket
      FROM e CROSS JOIN planes p GROUP BY e.vec_id),
    be AS (SELECT e.vec_id, e.label, e.v, b.bucket
           FROM e JOIN buckets b ON e.vec_id = b.vec_id),
    corp AS (SELECT * FROM be WHERE vec_id % 7 != 0),
    bench AS (SELECT * FROM be WHERE vec_id % 7 = 0),
    hits AS (
      SELECT DISTINCT a.vec_id
      FROM corp a JOIN bench b ON a.bucket = b.bucket
      WHERE {_cos_sql('a.v', 'b.v')} >= 0.35)
    SELECT corp.label, COUNT(*) AS n_corpus,
           CAST(SUM(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated
    FROM corp LEFT JOIN hits h ON corp.vec_id = h.vec_id
    GROUP BY corp.label
    """


@query("d_semantic_contamination", oracle=_semantic_contamination_sql())
def d_semantic_contamination(spark, sf_dir):
    """Embedding-space benchmark decontamination — the semantic complement
    of the n-gram d_contamination / d_bloom_decontamination pair: flag
    corpus vectors whose cosine similarity to ANY benchmark vector (the
    vec_id % 7 == 0 slice) reaches 0.35, with candidates meeting only
    inside a sign-LSH bucket (planes drawn from the data so the oracle is
    SQL-expressible — the d_semdedup_lsh discipline, applied cross-set).

    100 TB posture: one bucket pass over all vectors, persisted; the
    benchmark side is broadcast (a benchmark is always ≪ the corpus), so
    the corpus never shuffles and never self-joins; the cosine confirm runs
    only on bucket-colliding (corpus, bench) pairs."""
    from ..cache import tracked_persist

    e = _emb(spark, sf_dir, extra_cols=("label",))
    planes = e.filter(F.col("vec_id").between(1, 4)).select(
        F.col("vec_id").alias("plane_id"), F.col("v").alias("p")
    )
    buckets = (
        e.crossJoin(F.broadcast(planes))
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.when(
                    _dot_col(F.col("v"), F.col("p")) > 0,
                    F.expr("shiftleft(1, cast(plane_id as int) - 1)"),
                ).otherwise(0)
            ).alias("bucket")
        )
    )
    be = tracked_persist(e.join(buckets, "vec_id"))
    corp = be.filter(F.col("vec_id") % 7 != 0)
    bench = be.filter(F.col("vec_id") % 7 == 0)
    a, b = corp.alias("a"), bench.alias("b")
    hits = (
        a.join(F.broadcast(b), F.col("a.bucket") == F.col("b.bucket"))
        .filter(_cos_col(F.col("a.v"), F.col("b.v")) >= 0.35)
        .select(F.col("a.vec_id").alias("hit_id"))
        .distinct()
    )
    return (
        corp.join(hits, corp.vec_id == hits.hit_id, "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_corpus"),
            F.sum(F.when(F.col("hit_id").isNotNull(), 1).otherwise(0)).alias(
                "n_contaminated"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round-6: banding recall for the text MinHash/LSH path — the s_ann_recall
# counterpart on the lexical side. Ground truth is EXACT set-Jaccard >= 1/2
# via integer cross-multiplication (2c >= |A|+|B|-c — no float thresholds to
# flip), candidates are the certified banding generator at two (bands, rows)
# operating points, so the bands-vs-rows precision/recall trade-off becomes
# hash-checked counts instead of prose.
# ---------------------------------------------------------------------------


def _lsh_recall_sql() -> str:
    def counts(tag: str, cand: str) -> str:
        return f"""
    SELECT '{tag}' AS method,
           (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM {cand}) AS n_candidates,
           (SELECT COUNT(*) FROM exact e WHERE EXISTS (
              SELECT 1 FROM {cand} c
              WHERE c.id_a = e.id_a AND c.id_b = e.id_b)) AS n_common"""

    return (
        _SHINGLE_SQL
        + f""",
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM shingled a JOIN shingled b
        ON a.shingle_hash = b.shingle_hash AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    exact AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON i.id_a = sa.doc_id
      JOIN sizes sb ON i.id_b = sb.doc_id
      WHERE 2 * i.c >= sa.n + sb.n - i.c),
    c42 AS (SELECT * FROM ({_lsh_sql(4, 2)})),
    c24 AS (SELECT * FROM ({_lsh_sql(2, 4)}))
    {counts('b4r2', 'c42')}
    UNION ALL
    {counts('b2r4', 'c24')}
    """
    )


@query("d_lsh_recall", oracle=_lsh_recall_sql())
def d_lsh_recall(spark, sf_dir):
    """MinHash banding recall vs exact Jaccard ground truth: pairs with
    true set-Jaccard >= 1/2 (integer comparison — 2·|A∩B| >= |A∪B|), and
    how many of them each banding configuration surfaces as candidates.
    4 bands × 2 rows (high recall, more false candidates) vs 2 bands × 4
    rows (precise, lower recall) over the same 8 minhashes — the
    probability-of-collision trade-off every LSH deployment tunes,
    certified as exact counts.

    Scale shape: ground truth uses the UN-capped inverted-index join —
    that is the exact-ground-truth cost (quadratic per posting list, the
    thing the df cap exists to avoid) and belongs in a recall audit, not a
    production path; the candidate sides are the certified banding
    generator (map-side-combined signatures, band-bucket self-join).
    Collected driver state: 4 count scalars per configuration."""
    from ..cache import release_tracked, tracked_persist
    from ..operators.dedup import doc_shingles, lsh_candidate_pairs, minhash_signatures

    docs = read_table(spark, sf_dir, "documents")
    sh = tracked_persist(doc_shingles(docs))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle_hash") == F.col("b.shingle_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("c"))
    )
    exact = tracked_persist(
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .filter(2 * F.col("c") >= F.col("na") + F.col("nb") - F.col("c"))
        .select("id_a", "id_b")
    )
    n_exact = exact.count()
    # no outer persist: lsh_candidate_pairs tracked-persists the signature
    # lineage itself, and both banding configs pass the same frame
    sigs = minhash_signatures(doc_shingles(docs, distinct=False), num_hashes=8)
    rows = []
    for tag, bands, rpb in (("b4r2", 4, 2), ("b2r4", 2, 4)):
        cand = tracked_persist(lsh_candidate_pairs(sigs, bands=bands, rows_per_band=rpb))
        n_cand = cand.count()
        n_common = exact.join(cand, ["id_a", "id_b"], "left_semi").count()
        rows.append((tag, n_exact, n_cand, n_common))
    release_tracked()
    return spark.createDataFrame(
        rows, "method string, n_exact bigint, n_candidates bigint, n_common bigint"
    )


# ---------------------------------------------------------------------------
# Round-7: label-propagation communities over the LSH near-dup candidate
# graph — finer structure than connected components (a boilerplate family
# and the pages quoting it share a component but not a community). The
# synchronous min-tie variant is deterministic, so 3 unrolled iterations
# certify exactly.
# ---------------------------------------------------------------------------


def _label_communities_sql() -> str:
    parts = [
        "WITH pairs AS (" + _lsh_sql() + ")",
        """sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs)""",
        "l0 AS (SELECT DISTINCT src AS id, src AS label FROM sym)",
    ]
    for i in range(1, 4):
        parts.append(
            f"""v{i} AS (SELECT e.src AS id, l.label, COUNT(*) AS cnt
               FROM sym e JOIN l{i - 1} l ON e.dst = l.id GROUP BY 1, 2)"""
        )
        parts.append(
            f"""l{i} AS (SELECT id, label FROM (
                 SELECT id, label,
                        ROW_NUMBER() OVER (PARTITION BY id
                                           ORDER BY cnt DESC, label ASC) AS rk
                 FROM v{i}) WHERE rk = 1)"""
        )
    parts.append(
        """sizes AS (SELECT label, COUNT(*) AS community_size
             FROM l3 GROUP BY label)"""
    )
    return (
        ",\n".join(parts)
        + """
    SELECT community_size, CAST(COUNT(*) AS BIGINT) AS n_communities
    FROM sizes GROUP BY community_size ORDER BY community_size"""
    )


@query("d_label_communities", oracle=_label_communities_sql(), headline=True)
def d_label_communities(spark, sf_dir):
    """Community-size histogram of the LSH near-dup candidate graph under
    3 rounds of synchronous label propagation
    (operators/components.py:label_propagation) — the near-linear
    community detector, deterministic via lowest-label tie-breaks so both
    engines produce identical labels. Complements d_dup_clusters
    (connected components) with sub-component structure.

    Scale shape: per round one co-partitioned hash join + two combinable
    aggregations (vote counts, per-node max_by argmax — no window over
    the corpus); the histogram is two more tiny combinable aggs."""
    from ..operators.components import label_propagation

    labels = label_propagation(d_lsh_candidate_pairs(spark, sf_dir), iters=3)
    sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
    return (
        sizes.groupBy("community_size")
        .agg(F.count("*").alias("n_communities"))
        # r15: terminal sort removed (order-insensitive comparator; §2.4)
    )


def _kcore_sql() -> str:
    # every e{i} is referenced three times (its count branch, the k{i+1}
    # degree agg, and the e{i+1} filter) and each k{i+1} twice — AS
    # MATERIALIZED pins single evaluation; with DuckDB's default inlining
    # heuristic free to expand, the unrolled chain re-evaluates the LSH
    # pipeline exponentially (it spilled >78 GB of temp at sf0.1)
    parts = [
        "WITH pairs AS MATERIALIZED (" + _lsh_sql() + ")",
        """e0 AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs)""",
    ]
    selects = []
    for i in range(5):
        selects.append(
            f"""SELECT CAST({i} AS INTEGER) AS round,
                       COUNT(DISTINCT src) AS n_nodes,
                       COUNT(*) FILTER (WHERE src < dst) AS n_edges
                FROM e{i}"""
        )
        if i == 4:
            break
        parts.append(
            f"""k{i + 1} AS MATERIALIZED (SELECT src FROM e{i} GROUP BY src
                             HAVING COUNT(*) >= 2)"""
        )
        parts.append(
            f"""e{i + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e{i} e
                 WHERE e.src IN (SELECT src FROM k{i + 1})
                   AND e.dst IN (SELECT src FROM k{i + 1}))"""
        )
    return (
        ",\n".join(parts)
        + "\nSELECT * FROM ("
        + " UNION ALL ".join(selects)
        + ") ORDER BY round"
    )


# Not headlined: its wall is the edge-table build plus one live-set
# materialization per round (five at 4 rounds) over a ~650-row edge list;
# the LSH pair chain under it dominates, a local-mode fixed cost like
# s_ann_lsh, not plan quality. Its scale behavior is probed directly
# (SCALING.md: 1.1x / 3.1x per decade at 10x/100x).
@query("d_kcore_peeling", oracle=_kcore_sql())
def d_kcore_peeling(spark, sf_dir):
    """k-core peeling curve of the LSH near-dup candidate graph
    (operators/components.py:kcore_peel, k=2, 4 rounds): per round, how
    many nodes/edges survive dropping every node with current degree < k.
    The survivor curve separates dense template/boilerplate families
    (which persist into the core) from incidental pairwise collisions
    (peeled in round 1) — the third graph lens after connected components
    (d_dup_clusters) and communities (d_label_communities).

    Scale shape: one persisted edge table pinned on src, built once; per
    round one degree agg over the edges with both endpoints in the live set
    (two semi-joins against the node-sized set), whose materializing job
    also reports the curve row through an observation; fixed rounds keep
    it exactly oracle-checkable (unrolled CTEs)."""
    from ..operators.components import kcore_peel

    return kcore_peel(d_lsh_candidate_pairs(spark, sf_dir), k=2, rounds=4)


# ---------------------------------------------------------------------------
# Round-7: content-defined chunking — the rsync/LBFS-style variable-width
# chunker behind file-level dedup in data lakes: boundaries fall where a
# rolling window's hash satisfies hash % D == 0, so an insertion only
# reshapes the chunks it touches (fixed-width chunking would shift every
# later boundary). Certified as per-source chunk/dedup statistics.
# ---------------------------------------------------------------------------

_CDC_W = 4   # token window width for boundary hashes


_CDC_D = 16  # divisor: boundary iff gram_hash % D == 0 (mean chunk ~D tokens)


def _cdc_chunks_sql(w: int = _CDC_W, D: int = _CDC_D) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, source,
             string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents),
    g AS (
      SELECT doc_id, source, t, len(t) AS n,
             CASE WHEN len(t) >= {w} THEN
               list_transform(range(0, len(t) - {w - 1}),
                 i -> CAST(('0x' || substring(md5(
                        array_to_string(t[i + 1 : i + {w}], ' ')), 1, 15))
                      AS BIGINT))
             ELSE [] END AS gh
      FROM toks),
    b AS (
      SELECT doc_id, source, t, n,
             list_transform(
               list_filter(range(0, len(gh)), i -> gh[i + 1] % {D} = 0),
               x -> x + {w}) AS ends
      FROM g),
    c AS (SELECT doc_id, source, t, n, ends,
                 unnest(range(0, len(ends) + 1)) AS k FROM b),
    ch AS (
      SELECT doc_id, source, t,
             CASE WHEN k = 0 THEN 0 ELSE ends[k] END AS s,
             CASE WHEN k = len(ends) THEN n ELSE ends[k + 1] END AS e
      FROM c),
    ch2 AS (
      SELECT doc_id, source, e - s AS chunk_len,
             md5(array_to_string(t[s + 1 : e], ' ')) AS chunk_hash
      FROM ch WHERE s < e)
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_chunks,
           CAST(COUNT(DISTINCT chunk_hash) AS BIGINT) AS n_distinct_chunks,
           CAST(SUM(chunk_len) AS BIGINT) AS n_tokens,
           CAST((1000000 * (COUNT(*) - COUNT(DISTINCT chunk_hash)))
                // COUNT(*) AS BIGINT) AS dup_ppm
    FROM ch2 GROUP BY source ORDER BY source
    """


def cdc_chunk_frame(docs, w: int = _CDC_W, D: int = _CDC_D):
    """(doc_id, source?, chunk_len, chunk_hash) via content-defined
    boundaries — the reusable chunker behind d_cdc_chunks; also directly
    testable for the insertion-stability property CDC exists for.

    STAGED as named columns, deliberately: referencing an expensive array
    expression from inside an interpreted HOF lambda re-evaluates the
    WHOLE tree per element (the inline form ran the md5 gram chain once
    per filter step — O(grams²) md5s per doc, 93 s at sf0.1; this form is
    ~1 s). Each heavy array (_t → _gh → _ends → _pairs) materializes once
    per row in its own projection; every alias is referenced more than
    once by non-cheap consumers, so CollapseProject cannot inline them
    back (same discipline as with_lang_id's hoisted reduced string)."""
    from ..operators.dedup import hash64

    keep = [c for c in docs.columns if c != "text"]
    t = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    d1 = docs.select(*keep, t.alias("_t"))
    width = F.greatest(F.size("_t") - (w - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice("_t", i + 1, width).alias(f"t{i}") for i in range(w)]
    )
    d2 = d1.withColumn(
        "_gh",
        F.transform(
            zipped,
            lambda s: hash64(F.concat_ws(" ", *[s[f"t{i}"] for i in range(w)])),
        ),
    )
    idx = F.when(
        F.size("_gh") > 0, F.sequence(F.lit(0), F.size("_gh") - 1)
    ).otherwise(F.array().cast("array<int>"))
    d3 = d2.withColumn(
        "_ends",
        F.transform(
            F.filter(
                idx, lambda i: F.pmod(F.element_at(F.col("_gh"), i + 1), F.lit(D)) == 0
            ),
            lambda x: x + w,
        ),
    )
    starts = F.concat(F.array(F.lit(0)), F.col("_ends"))
    stops = F.concat(F.col("_ends"), F.array(F.size("_t")))
    d4 = d3.withColumn(
        "_pairs",
        F.filter(
            F.zip_with(
                starts, stops, lambda s_, e_: F.struct(s_.alias("s"), e_.alias("e"))
            ),
            lambda p: p["s"] < p["e"],
        ),
    )
    # explode_outer, NOT explode: Generate(explode) makes Catalyst infer a
    # size(_pairs) > 0 pre-filter (InferFiltersFromGenerate) and push it
    # BELOW every staged projection — re-inlining the whole gram chain into
    # one per-row filter and re-creating the O(grams²) evaluation the
    # staging exists to prevent (92 s at sf0.1). Outer generate infers no
    # filter; the null-chunk drop happens on the cheap generated column.
    return (
        d4.select(*keep, "_t", F.explode_outer("_pairs").alias("p"))
        .filter(F.col("p").isNotNull())
        .select(
            *keep,
            (F.col("p.e") - F.col("p.s")).cast("long").alias("chunk_len"),
            F.md5(
                F.array_join(
                    F.slice("_t", F.col("p.s") + 1, F.col("p.e") - F.col("p.s")), " "
                )
            ).alias("chunk_hash"),
        )
    )


@query("d_cdc_chunks", oracle=_cdc_chunks_sql(), headline=True)
def d_cdc_chunks(spark, sf_dir):
    """Content-defined chunking statistics by source (engine addition
    §2.12): token windows of width 4 hash to a boundary wherever
    hash % 16 == 0, documents split at those content-determined points,
    and chunks dedupe by md5 of their text — n_chunks vs
    n_distinct_chunks (dup_ppm, exact integer division) is the
    storage-dedup win CDC exists to measure, robust to insertions in a
    way fixed windows are not. Σ chunk_len == token count, certified.

    Scale shape: everything up to the explode is per-document array
    arithmetic (gram hashes, boundary filter, start/stop pairing) inside
    one projection — the HOF lambdas run on doc-bounded arrays, not the
    corpus. The rollup is TWO-PHASE (r9, VERDICT r8 #5): chunks first
    group by (source, chunk_hash) — map-side combinable, duplicate chunks
    collapse before the wire — then per-source counts read off that
    deduplicated table, so no row crosses the shuffle more than once. The
    old single groupBy with two COUNT(DISTINCT)s expanded every chunk row
    THREE times through the aggregate (Catalyst's Expand plan for
    multi-distinct). n_docs comes from the documents table itself — a
    20-row per-source count collected once and inlined as a literal map
    (the bm25 stats-literal discipline: a broadcast-join chain for 20
    rows costs more jobs than it saves): every NON-NULL-text document
    emits at least one chunk by construction (an empty token list still
    yields the (0, n) tail pair), and the doc count filters text IS NOT
    NULL to match, so COUNT(DISTINCT doc_id) over chunks equals the
    per-source count STRUCTURALLY, not data-dependently (ADVICE r9 #2) —
    hash-verified at both sweep scales.
    No windows; the boundary hash reuses the certified shingle hash
    (md5-prefix int64)."""
    from ..session import widen_narrow_scan

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # the per-doc gram/chunk chain is CPU-bound, not byte-bound: spread a
    # narrower-than-cluster scan across cores (no-op on a wide scan)
    ch = cdc_chunk_frame(widen_narrow_scan(docs)).drop("doc_id")
    by_hash = ch.groupBy("source", "chunk_hash").agg(
        F.count("*").alias("_cnt"), F.sum("chunk_len").alias("_len")
    )
    agg = by_hash.groupBy("source").agg(
        F.sum("_cnt").alias("n_chunks"),
        F.count("*").alias("n_distinct_chunks"),
        F.sum("_len").alias("n_tokens"),
    )
    # Count n_docs only over docs that can emit chunks (non-null text) so
    # equality with the oracle's COUNT(DISTINCT doc_id)-over-chunks is
    # structural, not data-generator-dependent: a NULL-text document emits
    # nothing on either side now (ADVICE r9 #2).
    nd_rows = (
        docs.where(F.col("text").isNotNull())
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    nd_map = F.create_map(
        *[F.lit(v) for r in nd_rows for v in (r["source"], int(r["n"]))]
    )
    dup_ppm = F.expr("div(1000000 * (n_chunks - n_distinct_chunks), n_chunks)").cast("bigint")
    return agg.select(
        "source",
        F.element_at(nd_map, F.col("source")).cast("bigint").alias("n_docs"),
        "n_chunks", "n_distinct_chunks", "n_tokens",
        dup_ppm.alias("dup_ppm"),
    )  # r15: terminal sort removed (order-insensitive comparator; §2.4)


# ---------------------------------------------------------------------------
# Round-7 (cont.): asymmetric containment near-dup and the cross-source
# exact-duplication matrix — the two duplication views Jaccard-style
# symmetric pair mining does not report.
# ---------------------------------------------------------------------------


def _containment_sql(cap: int = 50, top: int = 20) -> str:
    return (
        _SHINGLE_SQL
        + f"""
    , dfreq AS (SELECT shingle_hash, COUNT(*) AS df FROM shingled GROUP BY 1),
    capped AS (SELECT s.doc_id, s.shingle_hash FROM shingled s
               JOIN dfreq f USING (shingle_hash) WHERE f.df <= {cap}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY 1),
    common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
               FROM capped a JOIN capped b
                 ON a.shingle_hash = b.shingle_hash AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    dirs AS (SELECT id_a AS id_src, id_b AS id_dst, n_common FROM common
             UNION ALL SELECT id_b, id_a, n_common FROM common)
    SELECT id_src, id_dst, n_common,
           CAST((1000000 * n_common) // s.n AS BIGINT) AS containment_ppm
    FROM dirs JOIN sizes s ON s.doc_id = id_src
    ORDER BY containment_ppm DESC, id_src, id_dst
    LIMIT {top}
    """
    )


@query("d_containment_top_pairs", oracle=_containment_sql(), headline=True)
def d_containment_top_pairs(spark, sf_dir):
    """Top ordered pairs by shingle containment (engine addition §2.12):
    C(src→dst) = |S_src ∩ S_dst| / |S_src| flags doc-INSIDE-doc
    duplication — a short document quoted whole inside a longer one scores
    ~1 here while its symmetric Jaccard stays low, which is why crawl
    dedup pipelines run containment alongside Jaccard. Exact integer ppm.

    Scale shape (operators/dedup.py:containment_pairs): ONE df-capped
    inverted-index join computes the symmetric intersection per unordered
    pair; both directions explode out of that single aggregated frame (no
    union → no double execution of the join), and the size denominator
    joins once on the src id. Top-k via TakeOrderedAndProject heaps."""
    from ..operators.dedup import containment_pairs, doc_shingles

    shingled = doc_shingles(read_table(spark, sf_dir, "documents"))
    return (
        containment_pairs(shingled, max_doc_freq=50)
        .orderBy(F.col("containment_ppm").desc(), "id_src", "id_dst")
        .limit(20)
    )


def _cross_source_overlap_sql() -> str:
    return f"""
    WITH fps AS (SELECT DISTINCT source, {_NORM_FP_SQL} AS fp FROM documents),
    sizes AS (SELECT source, COUNT(*) AS n FROM fps GROUP BY 1),
    pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                     COUNT(*) AS n_shared_fps
              FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
              GROUP BY 1, 2)
    SELECT source_a, source_b, n_shared_fps,
           CAST((1000000 * n_shared_fps)
                // (sa.n + sb.n - n_shared_fps) AS BIGINT) AS jaccard_ppm
    FROM pairs
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY n_shared_fps DESC, source_a, source_b
    """


@query("d_cross_source_overlap", oracle=_cross_source_overlap_sql())
def d_cross_source_overlap(spark, sf_dir):
    """Cross-source exact-duplication matrix (engine addition §2.12): for
    every source pair, how many distinct normalized-text fingerprints both
    sources contain, plus the exact-integer Jaccard over their fingerprint
    sets — the report that tells a corpus curator which feeds are
    re-crawls / mirrors of each other before any expensive near-dup pass.

    Scale shape: one distinct over (source, fp), persisted once for its
    three consumers (per-source sizes + both sides of the fp self-join).
    A fingerprint's posting list is bounded by the number of SOURCES
    (dozens), not documents, so the self-join emits at most
    |sources|²-ish rows per fp — no skew bomb; the per-pair aggregate is
    map-side combinable and the size denominators broadcast."""
    from ..cache import tracked_persist
    from ..operators.dedup import norm_text

    docs = read_table(spark, sf_dir, "documents")
    fps = tracked_persist(
        docs.select("source", F.md5(norm_text()).alias("fp")).distinct()
    )
    sizes = fps.groupBy("source").agg(F.count("*").alias("n"))
    a = fps.alias("a")
    b = fps.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").alias("n_shared_fps"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_fps",
            F.expr("div(1000000 * n_shared_fps, n_a + n_b - n_shared_fps)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
        # r15: terminal sort removed (order-insensitive comparator; §2.4)
    )


# ---------------------------------------------------------------------------
# d_cluster_safe_split (operators/corpus_splits.py — eval leakage made
# impossible by construction)
# ---------------------------------------------------------------------------


def _split_audit_sql() -> str:
    """Canonical recursive-CTE twin (verified in tests/test_privacy_splits.py
    since r10): transitive closure over the certified LSH candidate pairs,
    md5-of-component split assignment, per-split rollup with the
    zero-straddle invariant inside the hash."""
    return (
        "WITH RECURSIVE pairs AS (" + _lsh_sql() + """),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (SELECT a, b FROM sym
                    UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
    comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a),
    assigned AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)),
    tagged AS (
      SELECT *, CASE WHEN pct < 80 THEN 'train'
                     WHEN pct < 90 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT *,
                   CAST(('0x' || substring(md5(CAST(component AS VARCHAR)), 1, 4))
                        AS INT) % 100 AS pct
            FROM assigned)),
    per_comp AS (SELECT component, split, COUNT(*) AS n
                 FROM tagged GROUP BY 1, 2),
    comp_splits AS (SELECT component, COUNT(*) AS ns FROM per_comp GROUP BY 1)
    SELECT split, CAST(SUM(n) AS BIGINT) AS n_docs,
           COUNT(*) AS n_clusters,
           CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
             AS n_docs_in_dup_clusters,
           CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_straddling
    FROM per_comp JOIN comp_splits USING (component)
    GROUP BY split ORDER BY split
    """
    )


@query("d_cluster_safe_split", oracle=_split_audit_sql())
def d_cluster_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test splits (engine addition §2.12): split
    by the NEAR-DUP CLUSTER, not the document, so an eval copy of a
    training document is impossible by construction — connected components
    (large-star/small-star, the certified d_dup_clusters machinery) over
    the certified LSH candidate pairs, md5(component) split assignment
    (the repo-wide fingerprint-hash sampling discipline, bit-identical in
    DuckDB), and the split_audit rollup whose n_straddling column puts the
    zero-leakage invariant INSIDE the certified hash. One corpus-sized
    exchange in the audit; the split itself adds one broadcast-sized left
    join to the component map."""
    from ..operators.corpus_splits import cluster_safe_split, split_audit

    docs = read_table(spark, sf_dir, "documents")
    pairs = d_lsh_candidate_pairs(spark, sf_dir)
    return split_audit(cluster_safe_split(docs.select("doc_id"), pairs))


# ---------------------------------------------------------------------------
# d_simhash_neardup (operators/hamming.py — built r10, registered r12 after
# two slot-budget deferrals; VERDICT r11 #2)
# ---------------------------------------------------------------------------


def hamming_twin_sql(src: str, threshold: int, bands: int = 4,
                     max_bucket: int = 10_000) -> str:
    """Canonical SQL twin of operators/hamming.hamming_neardup_pairs
    (verified in tests/test_hamming.py since r10, moved here at
    registration): band keys by arithmetic shift + mask, hot-bucket
    anti-join, co-bucketed self-join, exact bit_count(xor) verify."""
    width = 64 // bands
    mask = (1 << width) - 1
    return f"""
    WITH keyed AS (
      SELECT id AS _id, h AS _h, u.b AS band, (h >> (u.b * {width})) & {mask} AS key
      FROM {src}, unnest(range(0, {bands})) AS u(b)),
    hot AS (SELECT band, key FROM keyed GROUP BY 1, 2
            HAVING COUNT(*) > {max_bucket}),
    ok AS (SELECT k.* FROM keyed k ANTI JOIN hot USING (band, key))
    SELECT DISTINCT a._id AS id_a, b._id AS id_b,
           bit_count(xor(a._h, b._h)) AS hamming
    FROM ok a JOIN ok b ON a.band = b.band AND a.key = b.key AND a._id < b._id
    WHERE bit_count(xor(a._h, b._h)) <= {threshold}
    """


def _neardup_oracle() -> str:
    """The registered oracle: DuckDB recomputes the 64-bit fingerprints
    fully independently — the certified d_simhash SQL widened by the same
    integer arithmetic (sign bit set on odd ids so negative codes and
    arithmetic-shift band keys are genuinely exercised in the certified
    hash) — then mines pairs through :func:`hamming_twin_sql`."""
    src = f"""(
      WITH sh AS ({_simhash_sql(16)})
      SELECT doc_id AS id,
             xor(simhash + (simhash << 16) + ((doc_id % 7) << 32),
                 CASE WHEN doc_id % 2 = 1
                      THEN CAST(-9223372036854775808 AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END) AS h
      FROM sh) fps"""
    return hamming_twin_sql(src, threshold=3)


@query("d_simhash_neardup", oracle=_neardup_oracle(), headline=True)
def d_simhash_neardup(spark, sf_dir):
    """Hamming-LSH near-dup mining certified end to end (engine addition
    §2.12; the pair-mining stage over 64-bit perceptual/simhash codes —
    at corpus scale "which pairs sit within distance t" is never
    answerable all-pairs): the corpus simhash (the certified d_simhash
    lineage) is widened into an id-mixed 64-bit code with the sign bit set
    on odd ids — negative codes, and the arithmetic-shift-plus-mask band
    keys they produce, are IN the certified hash — then
    hamming_neardup_pairs bands it (4×16 bits), anti-joins hot buckets,
    and verifies candidates with exact bit_count(xor) ≤ 3. Recall is
    pigeonhole-exact below the band count (pinned as a hypothesis law in
    tests/test_hamming.py). Plan: one projection fans each code into 4
    (band, key) rows; the self-join is co-bucketed on (band, key) — the
    only shuffle — with the hot-bucket cap before the quadratic step."""
    from ..operators.dedup import simhash
    from ..operators.hamming import hamming_neardup_pairs

    docs = read_table(spark, sf_dir, "documents")
    MIN64 = -(1 << 63)
    fps = simhash(docs, bits=16).select(
        F.col("doc_id").alias("id"),
        (
            F.col("simhash")
            + F.shiftleft(F.col("simhash"), 16)
            + F.shiftleft(F.pmod(F.col("doc_id"), F.lit(7)), 32)
        )
        .cast("bigint")
        .bitwiseXOR(
            F.when(F.pmod("doc_id", F.lit(2)) == 1, F.lit(MIN64))
            .otherwise(F.lit(0))
            .cast("bigint")
        )
        .alias("h"),
    )
    return hamming_neardup_pairs(fps, "h", "id", threshold=3, bands=4)


# ---------------------------------------------------------------------------
# d_release_diff (operators/releasediff.py)
# ---------------------------------------------------------------------------

#: canonical SQL twin (verified in tests/test_releasediff.py since r12):
#: release N+1 is derived from the documents table in closed form —
#: doc_id%7==0 removed, doc_id%5==0 (of the survivors) modified with a
#: ' v2' suffix, one added doc per doc_id%11==0 under -(id+1) — so the
#: expected (source, status) rollup is fully recomputable by DuckDB and
#: all four status classes land in the certified hash. Added ids live in
#: the NEGATIVE namespace (r13 review #4: the original +1000000 offset
#: collides with real doc_ids at sf where the table exceeds 1M rows —
#: the tripwire would then abort the certified query at exactly the
#: scales the sweep exists to probe; doc_id >= 0 by construction, so
#: -(id+1) is collision-free at EVERY scale factor)
RELEASE_DIFF_SQL = """
    WITH old AS (SELECT doc_id, source, text FROM documents),
    survivors AS (SELECT * FROM old WHERE doc_id % 7 <> 0),
    new_ AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
      FROM survivors
      UNION ALL
      SELECT -(doc_id + 1), source, 'new doc ' || CAST(doc_id AS VARCHAR)
      FROM old WHERE doc_id % 11 = 0),
    o AS (SELECT doc_id AS id, source AS src_o,
                 CASE WHEN text IS NULL THEN 'null' ELSE md5(text) END AS fp_o,
                 length(COALESCE(text, '')) AS ch_o FROM old),
    n AS (SELECT doc_id AS id, source AS src_n,
                 CASE WHEN text IS NULL THEN 'null' ELSE md5(text) END AS fp_n,
                 length(COALESCE(text, '')) AS ch_n FROM new_),
    j AS (SELECT COALESCE(o.id, n.id) AS id,
                 COALESCE(n.src_n, o.src_o) AS source,
                 CASE WHEN fp_o IS NULL THEN 'added'
                      WHEN fp_n IS NULL THEN 'removed'
                      WHEN fp_o = fp_n THEN 'unchanged'
                      ELSE 'modified' END AS status,
                 COALESCE(ch_o, 0) AS chars_old, COALESCE(ch_n, 0) AS chars_new
          FROM o FULL OUTER JOIN n ON o.id = n.id)
    SELECT source, status, COUNT(*) AS n_docs,
           CAST(SUM(chars_old) AS BIGINT) AS chars_old,
           CAST(SUM(chars_new) AS BIGINT) AS chars_new,
           CAST(SUM(chars_new - chars_old) AS BIGINT) AS chars_delta
    FROM j GROUP BY source, status ORDER BY source, status
"""


# Not headlined: DuckDB runs the oracle in 26 ms at sf0.1 (a class-sized collapse over one scan), so a bench
# row would measure Spark job floors against a near-zero denominator.
# Its plan shape is guarded in tests.
@query("d_release_diff", oracle=RELEASE_DIFF_SQL)
def d_release_diff(spark, sf_dir):
    """Corpus release diff certified end to end (engine addition §2.12;
    the release-note audit between two corpus versions): fingerprints
    projected AT THE SCAN so ~50 B/doc rides the one co-partitioned
    full-outer join — text never shuffles (plan-guarded in tests); the
    unique-non-null-id precondition is self-enforced by an assert_true
    tripwire whose window reuses the join's exchange (r13)."""
    from ..operators.releasediff import release_diff_report

    old = read_table(spark, sf_dir, "documents")
    survivors = old.where(F.col("doc_id") % 7 != 0)
    modified = survivors.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    added = old.where(F.col("doc_id") % 11 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        "source",
        F.concat(F.lit("new doc "), F.col("doc_id").cast("string")).alias("text"),
    )
    new = modified.unionByName(added)
    return release_diff_report(old.select("doc_id", "source", "text"), new)
