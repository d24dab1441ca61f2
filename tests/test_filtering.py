"""Corpus-filtering operators (operators/filtering.py): repetition signals,
PII scrubbing, URL normalization, contamination — unit semantics beyond the
oracle queries (which cover engine parity)."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from unravelsports_spark.operators.filtering import (
    contaminated_docs,
    scrub_pii,
    with_repetition_stats,
    with_url_parts,
)


def lang_scores(text_col: str = "text") -> dict:
    """Column-form reference for `with_lang_id`'s SQL text: per-language
    stopword occurrence counts from the same anchored patterns. The document
    is scanned once with the all-languages union pattern; the per-language
    counts scan only the space-joined matches."""
    from unravelsports_spark.operators.text import (
        LANG_STOPWORDS, _all_stopwords_pattern, _stopword_pattern,
    )

    c = F.trim(F.lower(F.col(text_col)))
    reduced = F.array_join(
        F.regexp_extract_all(c, F.lit(_all_stopwords_pattern()), F.lit(0)), " "
    )
    return {
        lang: F.size(F.regexp_extract_all(reduced, F.lit(_stopword_pattern(stops)), F.lit(0)))
        for lang, stops in LANG_STOPWORDS.items()
    }


def test_repetition_stats_known_values(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "a b a b a b",          # all tokens repeat; "a b" dominates
                    "one two three four",   # no repetition
                    "x",                    # single token → no bigrams
                    "go go go go",          # one token, one bigram
                ],
            }
        )
    )
    out = {r.doc_id: r for r in with_repetition_stats(df).collect()}
    # doc 1: 6 tokens, 2 distinct → dup = 1 - 2/6; bigrams [ab,ba,ab,ba,ab] → 3/5
    assert out[1].dup_token_ratio == pytest.approx(1 - 2 / 6, abs=1e-6)
    assert out[1].top_bigram_ratio == pytest.approx(3 / 5, abs=1e-6)
    assert out[2].dup_token_ratio == 0.0
    assert out[2].top_bigram_ratio == pytest.approx(1 / 3, abs=1e-6)
    assert out[3].dup_token_ratio == 0.0 and out[3].top_bigram_ratio == 0.0
    assert out[4].dup_token_ratio == pytest.approx(0.75)
    assert out[4].top_bigram_ratio == pytest.approx(1.0)


def test_scrub_pii(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "mail me at jane.doe+spam@sub.example.co.uk or call +44 20 7946 0958 now",
                    "no pii here at all",
                    "two mails: a@b.io c@d.org",
                ],
            }
        )
    )
    out = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert out[1].n_emails == 1 and out[1].n_phones == 1
    assert "<EMAIL>" in out[1].text and "<PHONE>" in out[1].text
    assert "jane" not in out[1].text and "7946" not in out[1].text
    assert out[2].n_emails == 0 and out[2].n_phones == 0
    assert out[2].text == "no pii here at all"
    assert out[3].n_emails == 2
    assert out[3].text == "two mails: <EMAIL> <EMAIL>"


def test_url_parts(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [
                    "https://WWW.Example.COM/Path/Page/?q=1#frag",
                    "http://example.com",
                    "https://example.com/a//",
                ]
            }
        )
    )
    rows = with_url_parts(df).collect()
    assert rows[0].domain == "www.example.com"
    assert rows[0].url_norm == "https://www.example.com/Path/Page"
    assert rows[1].url_norm == "http://example.com"
    assert rows[2].url_norm == "https://example.com/a"


def test_contamination_semantics(spark):
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11, 12],
                "text": [
                    "the quick brown fox jumps over the lazy dog",  # contains bench 5-gram
                    "completely unrelated set of corpus words here",
                    "quick brown fox jumps over",                   # exactly the bench 5-gram
                ],
            }
        )
    )
    bench = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["quick brown fox jumps over"]})
    )
    flagged = sorted(r.doc_id for r in contaminated_docs(corpus, bench, n=5).collect())
    assert flagged == [10, 12]
    plan = contaminated_docs(corpus, bench, n=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_lang_scores_regex_equals_filter_form(spark):
    """The anchored-regex stopword counter (the shared patterns behind
    with_lang_id, in Column form) must equal the whitespace-token filter
    form on adversarial texts: punctuation-attached tokens, prefix
    stopwords (le/les, e/en), repeats, mixed whitespace, empties, and
    randomized token soups."""
    import random

    from pyspark.sql import functions as F

    from unravelsports_spark.operators.text import LANG_STOPWORDS, tokens

    fixed = [
        "", " ", "the", "the the", "the, and", ",the and.", "le les les",
        "e en e", "the\tand\nof", "  the  ", "xthe they the", "thee the",
        "der die und das", "le la les de et un", "el los que de y en",
    ]
    rng = random.Random(41)
    vocab = (
        [s for stops in LANG_STOPWORDS.values() for s in stops]
        + ["xyz", "the,", "(the)", "thex", "e.", "les!", "qu'il", "42"]
    )
    rand = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25)))
        for _ in range(60)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(fixed + rand)], "doc_id long, text string"
    )
    rx = lang_scores("text")
    toks = tokens(F.lower(F.col("text")))
    def filt_count(stops):
        arr = F.array(*[F.lit(s) for s in stops])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    filt = {lang: filt_count(stops) for lang, stops in LANG_STOPWORDS.items()}
    cols = [rx[l].alias(f"r_{l}") for l in rx] + [filt[l].alias(f"h_{l}") for l in filt]
    for row in df.select("doc_id", "text", *cols).collect():
        for lang in LANG_STOPWORDS:
            assert row[f"r_{lang}"] == row[f"h_{lang}"], (row["text"], lang)


def test_with_lang_id_shares_pattern_and_quotes_column(spark):
    """ADVICE r6: with_lang_id's SQL form must (a) use the exact pattern
    object lang_scores uses (no hand-doubled twin that can drift), (b)
    backtick the column reference so names needing quoting parse, and (c)
    pick exactly the argmax of lang_scores with first-wins ties."""
    from pyspark.sql import functions as F

    from unravelsports_spark.operators.text import LANG_STOPWORDS, with_lang_id

    texts = [
        "the quick brown fox and the dog",          # en
        "der hund und die katze ist nicht da",      # de
        "le chat et la souris dans le jardin est",  # fr
        "el perro y el gato en la casa por que",    # es
        "il cane e il gatto che non sono qui",      # it
        "zzz qqq www",                              # no stopwords -> tie -> en
        "", "   ",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.predicted_lang for r in with_lang_id(df).collect()
    }
    # expected = first-max over lang_scores (the Column form)
    scores = lang_scores("text")
    rows = df.select(
        "doc_id", *[scores[l].alias(l) for l in LANG_STOPWORDS]
    ).collect()
    langs = list(LANG_STOPWORDS)
    for r in rows:
        best = max(langs, key=lambda l: (r[l], -langs.index(l)))
        assert got[r.doc_id] == best, (r.doc_id, got[r.doc_id], best)
    assert got[0] == "en" and got[1] == "de" and got[2] == "fr"
    assert got[3] == "es" and got[4] == "it" and got[5] == "en"

    # a column name that REQUIRES backticks must parse and work
    odd = df.withColumnRenamed("text", "text col")
    got_odd = {
        r.doc_id: r.predicted_lang
        for r in with_lang_id(odd, text_col="text col").collect()
    }
    assert got_odd == got


def test_k_anonymity_report_matches_duckdb(spark, duck):
    """k-anonymity audit (operators/filtering.py, r9 build / r10
    registration): class-size histogram over customer quasi-identifiers,
    exact vs the SQL twin — the r10 oracle."""
    from unravelsports_spark.operators.filtering import k_anonymity_report
    from unravelsports_spark.session import read_table

    from .conftest import SF_CORRECT

    c = read_table(spark, SF_CORRECT, "customer")
    got = sorted(
        map(
            tuple,
            k_anonymity_report(
                c, ["c_nationkey", "c_mktsegment"], k=5
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            duck.execute(
                """
        WITH classes AS (
          SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
          FROM customer GROUP BY 1, 2)
        SELECT class_size, COUNT(*) AS n_classes,
               CAST(class_size * COUNT(*) AS BIGINT) AS n_rows,
               class_size < 5 AS at_risk
        FROM classes GROUP BY class_size ORDER BY class_size
        """
            ).fetchall(),
        )
    )
    assert got == want and len(got) > 0
    # row conservation: the histogram accounts for every customer row
    assert sum(r[2] for r in got) == c.count()


def test_k_anonymity_flags_unique_combinations(spark):
    """A singleton quasi-identifier combination must appear as an at-risk
    class of size 1; a safe class of size >= k must not flag."""
    from unravelsports_spark.operators.filtering import k_anonymity_report

    rows = [(i, "NY", "M") for i in range(5)] + [(99, "ZZ", "F")]
    df = spark.createDataFrame(rows, ["id", "region", "gender"])
    got = {
        r["class_size"]: (r["n_classes"], r["at_risk"])
        for r in k_anonymity_report(df, ["region", "gender"], k=5).collect()
    }
    assert got == {1: (1, True), 5: (1, False)}
