"""Training-data-pipeline operator queries over documents/embeddings, plus the
as-of join — each with an exact DuckDB oracle. MinHash/SimHash SQL is
generated from the same constants as the Spark operators, and every hash is
md5-hex→bigint (bit-identical across engines)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.asof import asof_join
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
from ..operators.similarity import cosine_topk
from ..operators.text import (
    LANG_STOPWORDS,
    with_fingerprint,
    with_lang_id,
    with_quality,
    with_token_count,
)
from ..session import read_table, widen_narrow_scan
from .relational import ORACLE_SQL, QUERIES, dec, dsum, ms, query

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@query(
    "t_token_stats",
    oracle=r"""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
           MIN(len(string_split_regex(trim(text), '\s+'))) AS min_tokens,
           MAX(len(string_split_regex(trim(text), '\s+'))) AS max_tokens
    FROM documents GROUP BY lang
    """,
)
def t_token_stats(spark, sf_dir):
    d = with_token_count(read_table(spark, sf_dir, "documents"))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
    )


@query(
    "t_quality_by_source",
    oracle=r"""
    WITH q AS (
      SELECT source,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             ROUND(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 6) AS alpha_ratio,
             ROUND(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text), 6) AS punct_ratio
      FROM documents),
    s AS (
      SELECT source, n_tokens, alpha_ratio, punct_ratio,
             ROUND(CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN alpha_ratio > 0.6 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN punct_ratio < 0.1 THEN 0.2 ELSE 0.0 END, 6) AS quality_score
      FROM q)
    SELECT source, COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_quality,
           CAST(SUM(CASE WHEN quality_score >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality
    FROM s GROUP BY source
    """,
)
def t_quality_by_source(spark, sf_dir):
    d = with_quality(read_table(spark, sf_dir, "documents"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum(dec("quality_score", 6)).cast("double") / F.count("*"), 6).alias("avg_quality"),
        F.sum(F.when(F.col("quality_score") >= 0.8, 1).otherwise(0)).alias("n_high_quality"),
    )


def _langid_sql() -> str:
    score_exprs = []
    for lang, stops in LANG_STOPWORDS.items():
        arr = "[" + ", ".join(f"'{s}'" for s in stops) + "]"
        score_exprs.append(
            f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> list_contains({arr}, t))) AS s_{lang}"
        )
    langs = list(LANG_STOPWORDS.keys())
    cases = []
    for lang in langs:
        cond = " AND ".join(f"s_{lang} >= s_{o}" for o in langs if o != lang)
        cases.append(f"WHEN {cond} THEN '{lang}'")
    return f"""
    WITH scores AS (SELECT lang, {', '.join(score_exprs)} FROM documents)
    SELECT lang, CASE {' '.join(cases)} END AS predicted_lang, COUNT(*) AS n
    FROM scores GROUP BY 1, 2
    """


@query("t_langid_confusion", oracle=_langid_sql())
def t_langid_confusion(spark, sf_dir):
    d = with_lang_id(read_table(spark, sf_dir, "documents"))
    return d.groupBy("lang", "predicted_lang").agg(F.count("*").alias("n"))


@query(
    "t_fingerprint",
    oracle=r"""
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def t_fingerprint(spark, sf_dir):
    return with_fingerprint(read_table(spark, sf_dir, "documents")).select("doc_id", "fingerprint")


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


@query("d_minhash_signatures", oracle=_minhash_sql())
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


@query("d_lsh_candidate_pairs", oracle=_lsh_sql())
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


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@query(
    "s_ann_bruteforce",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_dot_product(embedding::DOUBLE[], qv)
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv, qv))), 6) AS cosine
    FROM embeddings, q
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)
def s_ann_bruteforce(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return cosine_topk(emb, [float(v) for v in qvec], k=10)


@query(
    "s_ann_top_pairs",
    oracle="""
    WITH sub AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 100)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
    FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    ORDER BY cosine DESC, id_a, id_b
    LIMIT 20
    """,
)
def s_ann_top_pairs(spark, sf_dir):
    """Pairwise near-duplicate detection over embeddings (the embedding-cosine
    near-dup path): exact top-20 most-similar pairs in a bounded subset."""
    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    e = F.transform("embedding", lambda x: x.cast("double"))
    sub = emb.select("vec_id", e.alias("e"))
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    a, b = sub.alias("a"), sub.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(
                dot(F.col("a.e"), F.col("b.e"))
                / (F.sqrt(dot(F.col("a.e"), F.col("a.e"))) * F.sqrt(dot(F.col("b.e"), F.col("b.e")))),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "id_a", "id_b")
        .limit(20)
    )


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


def _cos_sql_guarded(a: str, b: str) -> str:
    """The DuckDB twin of the zero-norm guard in the Arrow cosine kernels
    (operators/similarity._cosine_vs_refs / _cosine_vs_queries_with_cell):
    cosine 0.0 when either norm is zero, the identical quotient otherwise
    (the THEN branch is byte-for-byte _cos_sql's formula). Use this in any
    oracle whose Spark side computes cosines through a guarded kernel —
    an unguarded oracle would NaN-rank exactly the rows the kernel zeroes
    (r10 review finding #1)."""
    denom = (
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )
    return (
        f"CASE WHEN {denom} > 0 THEN list_dot_product({a}, {b}) / {denom} "
        f"ELSE CAST(0.0 AS DOUBLE) END"
    )


from ..operators.similarity import (  # noqa: F401  (re-exports: plans and tests import these from here)
    _allpairs_cosine_removed,
    _bucket_cosine_removed,
    _sign_lsh_bev,
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


@query(
    "s_ann_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    planes AS (SELECT vec_id AS plane_id, v AS p FROM e WHERE vec_id BETWEEN 1 AND 4),
    buckets AS (
      SELECT e.vec_id,
             CAST(SUM(CASE WHEN list_dot_product(e.v, p.p) > 0
                           THEN 1 << (p.plane_id - 1) ELSE 0 END) AS BIGINT) AS bucket
      FROM e CROSS JOIN planes p GROUP BY e.vec_id),
    be AS (SELECT e.vec_id, e.v, b.bucket FROM e JOIN buckets b ON e.vec_id = b.vec_id),
    q AS (SELECT bucket AS qbucket, v AS qv FROM be WHERE vec_id = 0)
    SELECT be.vec_id, ROUND({_cos_sql('be.v', 'q.qv')}, 6) AS cosine
    FROM be, q WHERE be.bucket = q.qbucket
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def s_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN (the scale path for similarity search): 4 hyperplanes
    (here drawn from the data itself so the oracle is expressible in SQL) give
    a 16-way sign bucket; the query probes only its own bucket, so the cosine
    is evaluated on ~1/16 of the corpus. Planes and the single query row are
    broadcast; the corpus side is never shuffled."""
    e = _emb(spark, sf_dir)
    planes = e.filter(F.col("vec_id").between(1, 4)).select(
        F.col("vec_id").alias("plane_id"), F.col("v").alias("p")
    )
    buckets = (
        e.crossJoin(F.broadcast(planes))
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.when(_dot_col(F.col("v"), F.col("p")) > 0,
                       F.expr("shiftleft(1, cast(plane_id as int) - 1)")).otherwise(0)
            ).alias("bucket")
        )
    )
    from ..cache import tracked_persist

    # the bucketed table feeds both the broadcast query row and the corpus
    # probe side; persist so the bucket computation runs once
    be = tracked_persist(e.join(buckets, "vec_id"))
    q = be.filter(F.col("vec_id") == 0).select(
        F.col("bucket").alias("qbucket"), F.col("v").alias("qv")
    )
    return (
        be.crossJoin(F.broadcast(q))
        .filter(F.col("bucket") == F.col("qbucket"))
        .select("vec_id", F.round(_cos_col(F.col("v"), F.col("qv")), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


@query(
    "s_ann_ivf",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 50 = 0),
    scored AS (
      SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cid) AS rn
      FROM e CROSS JOIN c),
    cells AS (SELECT vec_id, v, cid AS cell FROM scored WHERE rn = 1),
    q AS (SELECT cell AS qcell, v AS qv FROM cells WHERE vec_id = 7)
    SELECT cells.vec_id, ROUND({_cos_sql('cells.v', 'q.qv')}, 6) AS cosine
    FROM cells, q WHERE cells.cell = q.qcell
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def s_ann_ivf(spark, sf_dir):
    """IVF ANN: a small deterministic centroid set (every 50th vector — the
    k-means fit lives in operators/similarity.py; fixed seeds here keep the
    oracle expressible) partitions the corpus into cells via a broadcast
    nearest-centroid argmax; the query scans only its own cell."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir)
    c = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    w = Window.partitionBy("vec_id").orderBy(
        _cos_col(F.col("v"), F.col("cv")).desc(), F.col("cid")
    )
    cells = (
        e.crossJoin(F.broadcast(c))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", F.col("cid").alias("cell"))
    )
    q = cells.filter(F.col("vec_id") == 7).select(
        F.col("cell").alias("qcell"), F.col("v").alias("qv")
    )
    return (
        cells.crossJoin(F.broadcast(q))
        .filter(F.col("cell") == F.col("qcell"))
        .select("vec_id", F.round(_cos_col(F.col("v"), F.col("qv")), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


@query("s_ann_mllib_brp")
def s_ann_mllib_brp(spark, sf_dir):
    """MLlib BucketedRandomProjectionLSH ANN (rows-only: the hash family is
    MLlib-internal, not SQL-expressible; seeded → deterministic)."""
    from ..operators.mllib_lsh import brp_ann_topk

    emb = read_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return brp_ann_topk(emb, [float(v) for v in qvec], k=10)


@query("d_mllib_minhash_join")
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


@query(
    "f9_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
)
def f9_json_extract(spark, sf_dir):
    """JSON scalar extraction from the props column (beyond the reference's
    surface — JSON only appears as a test fixture there)."""
    e = read_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count("*").alias("cnt"),
    )


@query(
    "o12_row_synthesis",
    oracle="""
    SELECT n_name, COUNT(*) AS n_rows, CAST(SUM(i) AS BIGINT) AS sum_i
    FROM nation, LATERAL unnest(generate_series(1, n_nationkey % 5 + 1)) AS t(i)
    GROUP BY n_name
    """,
)
def o12_row_synthesis(spark, sf_dir):
    """O12 padding-style row synthesis: per-key sequence/explode generation
    (the scalable form of the reference's padding loop,
    graph_converter.py:240-440)."""
    n = read_table(spark, sf_dir, "nation")
    return (
        n.withColumn("i", F.explode(F.sequence(F.lit(1), F.col("n_nationkey") % 5 + 1)))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_rows"), F.sum("i").alias("sum_i"))
    )


# ---------------------------------------------------------------------------
# as-of join (J8)
# ---------------------------------------------------------------------------


@query(
    "j8_asof_join",
    oracle="""
    WITH views AS (
      SELECT user_id, ts, MAX(event_id) AS view_event_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
    purchases AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id,
           CAST(epoch_ms(p.ts) AS BIGINT) AS purchase_ms,
           v.view_event_id AS view_event_id
    FROM purchases p
    ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def j8_asof_join(spark, sf_dir):
    e = read_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    joined = asof_join(purchases, views, on="ts", by=["user_id"], value_cols=["view_event_id"])
    return joined.select(
        "event_id", "user_id", ms("ts").alias("purchase_ms"),
        F.col("view_event_id_right").alias("view_event_id"),
    )


# ---------------------------------------------------------------------------
# multimodal plumbing (operators/multimodal.py): binary payload columns
# decoded via Arrow-batched mapInPandas. The deterministic hash pseudo-decoder
# makes even this path oracle-checkable: DuckDB recomputes the same md5-derived
# metadata from the payload bytes.
# ---------------------------------------------------------------------------


@query(
    "mm_decode_stats",
    oracle="""
    WITH m AS (SELECT source, md5(text) AS h FROM documents),
    d AS (SELECT source,
                 64 + CAST(('0x' || substring(h, 1, 2)) AS INT) % 64 AS w,
                 64 + CAST(('0x' || substring(h, 3, 2)) AS INT) % 64 AS ht
          FROM m)
    SELECT source, COUNT(*) AS n_images,
           CAST(SUM(w) AS BIGINT) AS sum_width,
           CAST(SUM(ht) AS BIGINT) AS sum_height,
           MIN(w) AS min_width, MAX(ht) AS max_height
    FROM d GROUP BY source
    """,
)
def mm_decode_stats(spark, sf_dir):
    """Multimodal decode pipeline end-to-end: text bytes stand in for image
    payloads (binary column), mapInPandas fake-decode derives (width, height)
    from the payload hash, and the aggregate never touches the blob column
    after decode. A real codec slots into the same plumbing unchanged."""
    from ..operators.multimodal import decode_images

    docs = read_table(spark, sf_dir, "documents")
    media = docs.select("source", F.encode("text", "UTF-8").alias("payload"))
    decoded = decode_images(media, fake=True)
    return decoded.groupBy("source").agg(
        F.count("*").alias("n_images"),
        F.sum("dec_width").alias("sum_width"),
        F.sum("dec_height").alias("sum_height"),
        F.min("dec_width").alias("min_width"),
        F.max("dec_height").alias("max_height"),
    )


@query(
    "mm_decode_real",
    oracle="""
    WITH d AS (SELECT doc_id, source,
                      4 + doc_id % 13 AS w, 4 + doc_id % 7 AS h,
                      doc_id % 256 AS c
               FROM documents)
    SELECT source, COUNT(*) AS n_images,
           CAST(SUM(w) AS BIGINT) AS sum_width,
           CAST(SUM(h) AS BIGINT) AS sum_height,
           CAST(SUM(c) AS BIGINT) AS sum_color
    FROM d GROUP BY source
    """,
)
def mm_decode_real(spark, sf_dir):
    """REAL codec end-to-end: synthesize a PNG per document (solid color
    ``doc_id % 256``, size ``(4 + doc_id % 13) × (4 + doc_id % 7)``) with the
    pure-Python encoder in one mapInPandas stage, decode it back with
    ``decode_images(fake=False)`` (functions/imagecodec.py), and aggregate the
    decoded metadata. The oracle recomputes the same values from doc_id
    arithmetic — any codec bug (dimensions, pixel values, filter handling)
    breaks the hash match. ``round(mean_pixel*255)`` recovers the exact solid
    color, so the aggregate is integer-exact."""
    import numpy as np
    import pandas as pd
    from ..functions.imagecodec import encode_png
    from ..operators.multimodal import decode_images

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")

    def synth(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["payload"] = [
                encode_png(
                    np.full((4 + int(i) % 7, 4 + int(i) % 13, 3), int(i) % 256, np.uint8),
                    compress_level=1,
                )
                for i in pdf["doc_id"]
            ]
            yield pdf

    media = docs.mapInPandas(
        synth,
        T.StructType(docs.schema.fields + [T.StructField("payload", T.BinaryType())]),
    )
    decoded = decode_images(media, fake=False)
    return decoded.groupBy("source").agg(
        F.count("*").alias("n_images"),
        F.sum("dec_width").alias("sum_width"),
        F.sum("dec_height").alias("sum_height"),
        F.sum(F.round(F.col("mean_pixel") * 255.0).cast("long")).alias("sum_color"),
    )


@query(
    "mm_image_dhash_dedup",
    oracle="""
    WITH g AS (SELECT doc_id, doc_id % 25 AS grp FROM documents),
    hh AS (SELECT grp,
                  CAST(('0x' || substring(md5(CAST(grp AS VARCHAR)), 1, 15))
                       AS BIGINT) AS dhash
           FROM (SELECT DISTINCT grp FROM g)),
    j AS (SELECT hh.dhash, g.doc_id FROM g JOIN hh USING (grp))
    SELECT dhash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
    FROM j GROUP BY dhash ORDER BY dhash
    """,
)
def mm_image_dhash_dedup(spark, sf_dir):
    """Image near-duplicate dedup via perceptual difference hash, REAL
    codec end-to-end: synthesize a 32×36 PNG per document whose 8×9
    block-brightness grid encodes a ±8 random walk driven by 60 md5 bits
    of the doc's group id (doc_id % 25), plus per-document ±2 pixel
    jitter so every PNG's bytes are unique. dHash's block means absorb
    the jitter (|mean jitter| ≤ 2 < 4 = half the 8-level gradient), so
    each group's visually-near-identical images collapse onto ONE hash —
    and that hash is analytically int(md5(grp)[:15], 16), which the
    oracle recomputes in SQL. Any defect in the PNG round-trip, the
    block-mean downsample, or the bit packing breaks the hash match.

    Scale shape: one mapInPandas synth pass + the image_dhash Arrow pass
    (operators/multimodal.py), then a combinable groupBy on the 64-bit
    key — the image-dedup mirror of d_simhash."""
    import hashlib

    import numpy as np
    from ..functions.imagecodec import encode_png
    from ..operators.multimodal import image_dhash

    docs = widen_narrow_scan(read_table(spark, sf_dir, "documents").select("doc_id"))

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf.copy()
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                g = i % 25
                v = int(hashlib.md5(str(g).encode()).hexdigest()[:15], 16)
                bits = [0, 0, 0, 0] + [(v >> (59 - j)) & 1 for j in range(60)]
                # brightness walk per row: start 128, step ±8 per bit
                grid = np.empty((8, 9), np.int64)
                grid[:, 0] = 128
                for r in range(8):
                    for c in range(8):
                        step = 8 if bits[r * 8 + c] else -8
                        grid[r, c + 1] = grid[r, c] + step
                img = np.repeat(np.repeat(grid, 4, axis=0), 4, axis=1)
                idx = np.arange(img.size, dtype=np.int64).reshape(img.shape)
                jitter = (i * 1000003 + idx * 97) % 5 - 2
                img = np.clip(img + jitter, 0, 255).astype(np.uint8)
                payloads.append(
                    encode_png(np.repeat(img[:, :, None], 3, axis=2), compress_level=1)
                )
            pdf["payload"] = payloads
            yield pdf

    media = docs.mapInPandas(
        synth,
        T.StructType(docs.schema.fields + [T.StructField("payload", T.BinaryType())]),
    )
    return (
        image_dhash(media)
        .groupBy("dhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        # r15: terminal no-LIMIT sort removed (guide §2.4) — the driver
        # comparator and every repo harness sort before hashing (proven by
        # the 60k-row w2_partitioned_min certifying with no ORDER BY on
        # either side), so the rangepartitioning exchange + global sort
        # bought nothing at any scale
    )


# ---------------------------------------------------------------------------
# streaming-semantics windows over the events table (SURVEY §2.9) — the same
# F.window / F.session_window expressions run unchanged under readStream
# (streaming/windows.py); here they are batch queries with exact oracles.
# ---------------------------------------------------------------------------


@query(
    "st_sliding_window",
    oracle="""
    WITH w AS (
      SELECT CAST((FLOOR(epoch(ts) / 300) - k) * 300000 AS BIGINT) AS win_start_ms, value
      FROM events, LATERAL unnest([0, 1]) AS t(k))
    SELECT win_start_ms, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM w GROUP BY win_start_ms
    """,
)
def st_sliding_window(spark, sf_dir):
    """Sliding window (10 min, slide 5 min): each event lands in exactly two
    epoch-aligned windows. Spark's F.window generator is the streaming-native
    form; the oracle enumerates the same windows with epoch arithmetic."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"), "n_events", "sum_value"
        )
    )


@query(
    "st_session_window",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 60 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
    SELECT user_id, CAST(epoch_ms(MIN(ts)) AS BIGINT) AS session_start_ms,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def st_session_window(spark, sf_dir):
    """Gap-based session window (60 min) per user — Spark's F.session_window
    in batch mode; identical semantics to the reference's lag+cumsum
    sessionization (efpi.py:553-571) when the gap predicate replaces the
    value-change predicate. The oracle is exactly that formulation."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "60 minutes").alias("sw"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.unix_millis(F.col("sw.start")).alias("session_start_ms"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# J6 label join (utils.py:41-70): per-group labels joined back. The
# reference's labels are seeded-random; ours are a deterministic 60-bit hash
# (same md5 scheme as dedup) so the oracle is exact while the join shape —
# distinct keys → labels → broadcast join back — is identical.
# ---------------------------------------------------------------------------


@query(
    "j6_label_join",
    oracle="""
    WITH labels AS (
      SELECT c_custkey,
             CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS label
      FROM customer)
    SELECT l.label, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN labels l ON o.o_custkey = l.c_custkey
    GROUP BY l.label
    """,
)
def j6_label_join(spark, sf_dir):
    from ..operators.dedup import hash64

    cust = read_table(spark, sf_dir, "customer")
    labels = cust.select(
        "c_custkey", (hash64(F.col("c_custkey").cast("string")) % 2).alias("label")
    )
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(labels), orders.o_custkey == labels.c_custkey)
        .groupBy("label")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# W6 Savitzky-Golay with an exact oracle: for polyorder 1 the SG filter IS a
# closed form of (interior) the centered moving average and (edges,
# mode='interp') a linear least-squares fit over the first/last full window —
# both ANSI-SQL-expressible (windowed AVG + regr_slope/regr_intercept). The
# Spark side runs the real kernel (functions/savgol.py, the one the tracking
# pipeline uses per kloppy_polars.py:313-380); the SQL re-derives the
# semantics independently, so this cross-checks the kernel itself. round(4)
# absorbs sub-1e-10 cross-engine summation drift (values are O(100)).
# ---------------------------------------------------------------------------


@query(
    "w6_savgol_oracle",
    oracle=r"""
    WITH ordered AS (
      SELECT user_id, event_id, value,
             row_number() OVER w - 1 AS i,
             count(*) OVER (PARTITION BY user_id) AS n,
             avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ma
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    head AS (
      SELECT user_id, regr_slope(value, i) AS s, regr_intercept(value, i) AS b
      FROM ordered WHERE i < 7 GROUP BY user_id
    ),
    tail AS (
      SELECT user_id, regr_slope(value, i - (n - 7)) AS s,
             regr_intercept(value, i - (n - 7)) AS b
      FROM ordered WHERE i >= n - 7 GROUP BY user_id
    )
    SELECT o.user_id, o.event_id,
      round(CASE
        WHEN o.n < 7 THEN o.value
        WHEN o.i < 3 THEN h.b + h.s * o.i
        WHEN o.i >= o.n - 3 THEN t.b + t.s * (o.i - (o.n - 7))
        ELSE o.ma END, 4) AS value_smooth
    FROM ordered o
    LEFT JOIN head h USING (user_id)
    LEFT JOIN tail t USING (user_id)
    """,
)
def w6_savgol_oracle(spark, sf_dir):
    from ..functions.savgol import savgol_by_key

    events = read_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    return savgol_by_key(
        events,
        key_col="user_id",
        order_cols=["ts", "event_id"],
        value_col="value",
        out_cols=["user_id", "event_id"],
        window_length=7,
        polyorder=1,
        ndigits=4,
    )


# ---------------------------------------------------------------------------
# BPE-ish token counting (north-star text-analysis item): the GPT-2
# pre-tokenizer regex, counted JVM-side (regexp_extract_all, no UDF). The
# pattern is lookahead-free so Java regex and DuckDB's RE2 segment the corpus
# identically (verified exact on all docs).
# ---------------------------------------------------------------------------

def _bpe_stats_sql() -> str:
    from ..operators.text import BPE_PRETOKEN_RE

    pat = BPE_PRETOKEN_RE.replace("'", "''")
    return f"""
    WITH t AS (
      SELECT lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_ws,
             len(regexp_extract_all(text, '{pat}')) AS n_bpe
      FROM documents)
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
           MIN(n_bpe) AS min_bpe, MAX(n_bpe) AS max_bpe
    FROM t GROUP BY lang
    """


@query("t_bpe_token_stats", oracle=_bpe_stats_sql())
def t_bpe_token_stats(spark, sf_dir):
    from ..operators.text import with_bpe_token_count

    d = with_bpe_token_count(with_token_count(read_table(spark, sf_dir, "documents")))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("ws_tokens"),
        F.sum("n_bpe_tokens").alias("bpe_tokens"),
        F.min("n_bpe_tokens").cast("long").alias("min_bpe"),
        F.max("n_bpe_tokens").cast("long").alias("max_bpe"),
    )


# ---------------------------------------------------------------------------
# corpus-filtering operators (operators/filtering.py): repetition quality
# signals, PII scrubbing, URL normalization, benchmark decontamination —
# the remaining first-class filters of a pretraining data pipeline. All pure
# Catalyst with exact DuckDB oracles; integer-exact aggregates (sums of
# per-doc micro-rounded values) dodge float summation-order drift.
# ---------------------------------------------------------------------------


@query(
    "t_repetition_stats",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents),
    dup AS (
      SELECT doc_id, source,
             CASE WHEN len(t) > 0
                  THEN ROUND(1 - len(list_distinct(t))::DOUBLE / len(t), 6)
                  ELSE 0.0 END AS dupr
      FROM toks),
    grams AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
      FROM toks, LATERAL unnest(range(1, len(t))) AS r(i)
      WHERE len(t) >= 2),
    gcnt AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
    per_doc AS (
      SELECT doc_id, ROUND(MAX(c)::DOUBLE / SUM(c), 6) AS topr
      FROM gcnt GROUP BY doc_id)
    SELECT d.source, COUNT(*) AS n_docs,
           CAST(SUM(CAST(ROUND(d.dupr * 1e6) AS BIGINT)) AS BIGINT) AS dup_micro,
           CAST(SUM(CAST(ROUND(COALESCE(p.topr, 0.0) * 1e6) AS BIGINT)) AS BIGINT) AS top_micro,
           CAST(SUM(CASE WHEN d.dupr > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_dup
    FROM dup d LEFT JOIN per_doc p USING (doc_id)
    GROUP BY d.source
    """,
)
def t_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filters: duplicate-token ratio + top-bigram
    fraction per doc (single aggregate-fold projection, no shuffle — the
    longest equal-run in the sorted gram list IS the max frequency), rolled
    up per source as integer-exact micro sums. The oracle recomputes the
    bigram mode the relational way (unnest → group → max/sum)."""
    from ..operators.filtering import with_repetition_stats

    d = with_repetition_stats(read_table(spark, sf_dir, "documents"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.round(F.col("dup_token_ratio") * 1e6).cast("long")).alias("dup_micro"),
        F.sum(F.round(F.col("top_bigram_ratio") * 1e6).cast("long")).alias("top_micro"),
        F.sum(F.when(F.col("dup_token_ratio") > 0.5, 1).otherwise(0)).cast("long").alias("n_high_dup"),
    )


_PII_AUG_SQL = r"""
      SELECT doc_id, source,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || doc_id || '@example.com' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' call +1 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS text
      FROM documents
"""


@query(
    "t_pii_scrub",
    oracle=r"""
    WITH aug AS (""" + _PII_AUG_SQL + r"""),
    scrub AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             len(regexp_extract_all(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\+?[0-9][0-9()\-. ]{6,}[0-9]')) AS n_phones,
             regexp_replace(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\+?[0-9][0-9()\-. ]{6,}[0-9]', '<PHONE>', 'g') AS scrubbed
      FROM aug)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_emails) AS BIGINT) AS n_emails,
           CAST(SUM(n_phones) AS BIGINT) AS n_phones,
           CAST(SUM(len(scrubbed)) AS BIGINT) AS scrubbed_len
    FROM scrub GROUP BY source
    """,
)
def t_pii_scrub(spark, sf_dir):
    """PII scrubbing end-to-end on deterministically PII-augmented documents
    (every 7th doc gains an email, every 11th a phone number — synthesized
    identically in the oracle). Redaction counts and post-scrub lengths must
    match byte-for-byte, proving the Java-regex and RE2 patterns agree."""
    from ..operators.filtering import scrub_pii

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(F.lit(" call +1 555-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
        ),
    )
    s = scrub_pii(aug)
    return s.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_emails").cast("long").alias("n_emails"),
        F.sum("n_phones").cast("long").alias("n_phones"),
        F.sum(F.length("text")).cast("long").alias("scrubbed_len"),
    )


@query(
    "t_url_domains",
    oracle=r"""
    WITH urls AS (
      SELECT doc_id, source,
             'https://' || source || '.Example.com/docs/' || doc_id
             || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
             || CASE WHEN doc_id % 3 = 0 THEN '?utm=1' ELSE '' END AS url
      FROM documents),
    parts AS (
      SELECT doc_id, source,
             lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS domain,
             lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) || '://'
             || lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1))
             || regexp_replace(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$', '') AS url_norm
      FROM urls)
    SELECT domain, COUNT(*) AS n_urls,
           COUNT(DISTINCT url_norm) AS n_unique_norm
    FROM parts GROUP BY domain
    """,
)
def t_url_domains(spark, sf_dir):
    """URL normalization + domain extraction over synthesized per-doc URLs
    (mixed-case host, some with query strings / trailing slashes). The
    normalized-URL distinct count is the URL-level dedup key: trailing-slash
    and query/fragment variants collapse (doc 15 = both %3 and %5 → its
    slash+query variants normalize together)."""
    from ..operators.filtering import with_url_parts

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    urls = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".Example.com/docs/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 3 == 0, F.lit("?utm=1")).otherwise(F.lit("")),
        ),
    )
    parts = with_url_parts(urls)
    return parts.groupBy("domain").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("url_norm").alias("n_unique_norm"),
    )


@query(
    "d_contamination",
    oracle=r"""
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
    """,
)
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


@query(
    "j8f_asof_forward",
    oracle="""
    WITH views AS (
      SELECT user_id, ts, MAX(event_id) AS view_event_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
    purchases AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id,
           CAST(epoch_ms(p.ts) AS BIGINT) AS purchase_ms,
           v.view_event_id AS view_event_id
    FROM purchases p
    ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts <= v.ts
    """,
)
def j8f_asof_forward(spark, sf_dir):
    """Forward as-of: the first view at or after each purchase (DuckDB's
    native ASOF with a <= condition is the oracle). Same one-shuffle
    union+carry as j8, ordered descending."""
    e = read_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    joined = asof_join(
        purchases, views, on="ts", by=["user_id"],
        value_cols=["view_event_id"], direction="forward",
    )
    return joined.select(
        "event_id", "user_id", ms("ts").alias("purchase_ms"),
        F.col("view_event_id_right").alias("view_event_id"),
    )


@query(
    "t_sequence_packing",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source, len(string_split_regex(trim(text), '\s+')) AS n_tokens
      FROM documents),
    packed AS (
      SELECT source, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                         - n_tokens) / 2048.0) AS BIGINT) AS bin
      FROM toks)
    SELECT source, COUNT(DISTINCT bin) AS n_bins,
           CAST(MAX(bin) AS BIGINT) AS max_bin,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MAX(cnt) AS BIGINT) AS max_docs_per_bin
    FROM (SELECT source, bin, n_tokens,
                 COUNT(*) OVER (PARTITION BY source, bin) AS cnt
          FROM packed)
    GROUP BY source
    """,
)
def t_sequence_packing(spark, sf_dir):
    """Token-budget sequence packing (budget 2048): start-offset binning via
    one window cumsum per source — the corpus→training-sequences step. The
    oracle reruns the identical window in DuckDB."""
    from ..operators.packing import pack_sequences

    docs = with_token_count(read_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "n_tokens"
    )
    packed = pack_sequences(docs, budget=2048)
    per_bin = packed.withColumn(
        "cnt", F.count("*").over(Window.partitionBy("source", "bin"))
    )
    return per_bin.groupBy("source").agg(
        F.countDistinct("bin").alias("n_bins"),
        F.max("bin").alias("max_bin"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.max("cnt").alias("max_docs_per_bin"),
    )


@query("a9_approx_distinct")
def a9_approx_distinct(spark, sf_dir):
    """HyperLogLog++ approximate distinct (the 100 TB form of A2/A7: fixed
    ~kilobyte sketch per group, map-side combinable, vs an exact distinct's
    per-key state). No SQL oracle — the estimate is engine-specific; the
    driver records rows-only, and tests/test_pipeline_ops.py asserts the
    estimate lands within the configured rsd of the exact count."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.count("*").alias("n_rows"),
    )


@query(
    "mm_audio_real",
    oracle=r"""
    WITH base AS (SELECT doc_id, source, 200 + doc_id % 50 AS n FROM documents),
    samples AS (
      SELECT doc_id, source, n, k,
             ((doc_id * 31 + k * 7) % 2001) - 1000 AS v
      FROM base, LATERAL unnest(range(0, n)) AS t(k)),
    feats AS (
      SELECT doc_id, source,
             COUNT(*) AS n_samples,
             MAX(ABS(v)) AS peak,
             SUM(v * v) AS energy,
             SUM(CASE WHEN k > 0 AND ((v < 0) <> (lagv < 0)) THEN 1 ELSE 0 END) AS zc
      FROM (SELECT *, LAG(v) OVER (PARTITION BY doc_id ORDER BY k) AS lagv FROM samples)
      GROUP BY doc_id, source)
    SELECT source, COUNT(*) AS n_clips,
           CAST(SUM(n_samples) AS BIGINT) AS total_samples,
           CAST(SUM(n_samples * 1000 // 16000) AS BIGINT) AS total_ms,
           CAST(MAX(peak) AS BIGINT) AS max_peak,
           CAST(SUM(energy) AS BIGINT) AS total_energy,
           CAST(SUM(zc) AS BIGINT) AS total_zero_crossings
    FROM feats GROUP BY source
    """,
)
def mm_audio_real(spark, sf_dir):
    """REAL audio codec end-to-end: synthesize a 16-bit PCM WAV per document
    (sample k = ((doc_id·31 + k·7) mod 2001) − 1000, length 200 + doc_id%50)
    with the pure-Python encoder, decode it back with
    functions/audiocodec.decode_wav inside extract_audio_features, and roll
    up integer-exact descriptors. The oracle regenerates the identical sample
    series in SQL — any RIFF/PCM bug breaks the hash match."""
    import numpy as np
    from ..functions.audiocodec import encode_wav
    from ..operators.multimodal import extract_audio_features

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")

    def synth(batches):
        for pdf in batches:
            pdf = pdf.copy()
            payloads = []
            for i in pdf["doc_id"]:
                n = 200 + int(i) % 50
                k = np.arange(n, dtype=np.int64)
                v = ((int(i) * 31 + k * 7) % 2001) - 1000
                payloads.append(encode_wav(v.astype(np.int16), 16_000))
            pdf["payload"] = payloads
            yield pdf

    media = docs.mapInPandas(
        synth,
        T.StructType(docs.schema.fields + [T.StructField("payload", T.BinaryType())]),
    )
    feats = extract_audio_features(media)
    return feats.groupBy("source").agg(
        F.count("*").alias("n_clips"),
        F.sum("n_samples").alias("total_samples"),
        F.sum("duration_ms").alias("total_ms"),
        F.max("peak").alias("max_peak"),
        F.sum("energy").alias("total_energy"),
        F.sum("zero_crossings").alias("total_zero_crossings"),
    )


@query(
    "k_salted_agg",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def k_salted_agg(spark, sf_dir):
    """Skew-safe two-phase aggregation (operators/skew.py): partials per
    (key, salt), merged per key — bit-identical to the plain GROUP BY the
    oracle runs (count/sum merge exactly; distinct-count goes through a
    salt-level collect_set merged as a union). This is the shape that keeps
    one hot event_type from pinning a single reducer at 100 TB."""
    from ..operators.skew import salted_agg

    e = read_table(spark, sf_dir, "events")
    return salted_agg(
        e,
        keys=["event_type"],
        partial_aggs=[
            F.count("*").alias("_n"),
            F.sum(dec("value", 2)).alias("_s"),
            F.collect_set("user_id").alias("_u"),
        ],
        final_aggs=[
            F.sum("_n").alias("n_events"),
            F.sum("_s").cast("double").alias("sum_value"),
            F.size(F.array_distinct(F.flatten(F.collect_list("_u")))).cast("long").alias("n_users"),
        ],
        n_salts=8,
        unique_col="event_id",
    )


@query(
    "j9_interval_join",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
    views AS (
      SELECT user_id, ts AS view_ts, event_id AS view_event_id
      FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id,
           CAST(epoch_ms(p.ts) AS BIGINT) AS purchase_ms,
           CAST(COUNT(v.view_event_id) AS BIGINT) AS views_30m,
           MAX(v.view_event_id) AS last_view_event
    FROM purchases p
    JOIN views v
      ON v.user_id = p.user_id
     AND v.view_ts >= p.ts - INTERVAL 30 MINUTE
     AND v.view_ts <= p.ts
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)
def j9_interval_join(spark, sf_dir):
    """Interval join (attribution): views within the 30 minutes before each
    purchase, per user. One shuffle per side (SortMergeJoin on user_id, range
    as join condition — never a cross product); the identical expression runs
    as a watermarked stream-stream join (streaming/joins.py, tested)."""
    from ..streaming.joins import interval_join

    e = read_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    views = (
        e.filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_event_id"))
    )
    j = interval_join(purchases, views, ["user_id"], "ts", "view_ts", "30 minutes")
    return j.groupBy("event_id", "user_id", "ts").agg(
        F.count("view_event_id").alias("views_30m"),
        F.max("view_event_id").alias("last_view_event"),
    ).select(
        "event_id", "user_id", ms("ts").alias("purchase_ms"),
        "views_30m", "last_view_event",
    )
