"""Text-analysis operators for large-scale training-data pipelines: token
counting, quality scoring, n-gram/stopword language ID, document
fingerprinting. All pure Catalyst expressions (whole-stage codegen, no
Python in the hot path); every operator has an exact DuckDB oracle in
plans/pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column as SqlCol
from pyspark.sql import functions as F

#: small stopword sets per language for the voting heuristic (public common
#: stopwords; ordered dict → deterministic tie-break priority)
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "und", "das", "nicht", "ist", "zu", "den", "von", "mit"],
    "fr": ["le", "la", "les", "de", "et", "un", "que", "pour", "dans", "est"],
    "es": ["el", "los", "que", "de", "y", "en", "por", "con", "para", "una"],
    "it": ["il", "di", "che", "e", "un", "per", "non", "sono", "con", "della"],
}


def tokens(text_col) -> SqlCol:
    """Whitespace tokenization of trimmed text."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(c), r"\s+")


def with_token_count(df: DataFrame, text_col: str = "text", out: str = "n_tokens") -> DataFrame:
    return df.withColumn(out, F.size(tokens(text_col)))


# GPT-2-style pre-tokenizer, lookahead-free so Java regex (Spark) and RE2
# (DuckDB oracle) segment identically: contractions, space-prefixed
# letter/digit runs, punctuation runs. Counts subword-merge INPUT units — the
# right proxy for LLM token budgeting without a vocab file.
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def with_bpe_token_count(
    df: DataFrame, text_col: str = "text", out: str = "n_bpe_tokens"
) -> DataFrame:
    """Subword-ish token count via the BPE pre-tokenizer regex (vs the
    whitespace count of with_token_count). Pure JVM regexp — no UDF."""
    return df.withColumn(
        out, F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_PRETOKEN_RE), F.lit(0)))
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punctuation/alpha/mean-word-length quality signals plus a
    composite [0,1] score — the usual cheap pre-filters for LLM corpora."""
    c = F.col(text_col)
    n_chars = F.length(c)
    n_alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(c, r"[^.,;:!?]", ""))
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    df = (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("alpha_ratio", F.round(n_alpha / n_chars, 6))
        .withColumn("punct_ratio", F.round(n_punct / n_chars, 6))
        .withColumn("mean_word_len", F.round(n_chars / n_tokens, 6))
    )
    score = (
        F.when(F.col("n_tokens") >= 10, 0.4).otherwise(0.0)
        + F.when(F.col("alpha_ratio") > 0.6, 0.4).otherwise(0.0)
        + F.when(F.col("punct_ratio") < 0.1, 0.2).otherwise(0.0)
    )
    return df.withColumn("quality_score", F.round(score, 6))


def _stopword_pattern(stops: list[str]) -> str:
    """The anchored stopword-alternation regex, built ONCE and shared by
    `with_lang_id` (SQL-text form) and the Column-form reference in
    tests/test_filtering.py so the two formulations can never drift
    (ADVICE r6)."""
    return r"(?<=^|\s)(?:" + "|".join(stops) + r")(?=\s|$)"


def _all_stopwords_pattern() -> str:
    """The union-of-all-languages pattern behind the reduced-string trick:
    regex cost scales with subject length, so ONE full-document scan
    extracts every stopword occurrence (whole-token anchored — the
    lookarounds plus alternation backtracking give exact token-equality
    semantics, same as the per-language patterns), and the five
    per-language counts then scan only the space-joined MATCHES (~100 B)
    instead of the document (~kBs). Counts are provably identical: a token
    matches a language's pattern iff it matches the union pattern and is
    in that language's list, and the reduced string preserves every
    occurrence as a whole space-separated token. Measured 2x on the langid
    stage at sf0.1 (0.62 -> 0.31 s); property-tested equal on adversarial
    texts."""
    every = sorted({s for stops in LANG_STOPWORDS.values() for s in stops})
    return _stopword_pattern(every)


def _sql_string_literal(s: str) -> str:
    """Escape an arbitrary string for a Spark SQL single-quoted literal
    (backslashes doubled, quotes backslash-escaped) — default parser mode,
    where backslash is the literal escape character."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_identifier(name: str) -> str:
    """Backtick-quote a column name for SQL text (inner backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def with_lang_id(df: DataFrame, text_col: str = "text", out: str = "predicted_lang") -> DataFrame:
    """Stopword-voting language ID; ties resolve in LANG_STOPWORDS order.

    Single-evaluation argmax: the five stopword counts are packed into ONE
    array referenced ONCE, and the winner is picked by a 5-element
    first-max fold. The obvious pairwise-comparison CASE form is a plan
    trap: Catalyst's CollapseProject inlines the score columns into every
    comparison, so each row re-ran split+filter ~50 times (5 langs x 5
    comparisons x 2 sides) — measured as the dominant cost of the corpus
    prep chain at sf0.1. The fold's per-row overhead is 5 interpreted
    steps; the heavy tokenize+filter work runs exactly once per language.

    The expression is assembled as ONE server-side-parsed SQL string: the
    literal-heavy Column-API form costs hundreds of py4j round-trips per
    call (~100 ms of driver latency each time a plan embeds it); F.expr
    parses the same tree in a single call (~30 ms, measured)."""
    langs = list(LANG_STOPWORDS)
    col_sql = _sql_identifier(text_col)
    # the SAME pattern objects the Column form uses, escaped programmatically
    # for SQL literals (ADVICE r6: no hand-doubled backslash twin). The
    # reduced string is HOISTED into its own named column: the argmax fold
    # below is an interpreted HOF, so codegen subexpression elimination
    # can't deduplicate an inline copy per score — but CollapseProject
    # never inlines a non-cheap alias referenced 5x, so the hoist pins the
    # full-document scan to exactly once per row (plan shows 6
    # regexp_extract_all: 1 union + 5 over the tiny match string;
    # measured 0.62 -> 0.37 s at sf0.1).
    union_pat = _sql_string_literal(_all_stopwords_pattern())
    reduced_col = f"__{out}_reduced"
    reduced = (
        f"array_join(regexp_extract_all(trim(lower({col_sql})), {union_pat}, 0), ' ')"
    )
    scores = []
    for lang in langs:
        pat = _sql_string_literal(_stopword_pattern(LANG_STOPWORDS[lang]))
        scores.append(
            f"size(regexp_extract_all({_sql_identifier(reduced_col)}, {pat}, 0))"
        )
    arr_sql = "array(" + ", ".join(scores) + ")"
    names = "array(" + ", ".join(f"'{lang}'" for lang in langs) + ")"
    sql = (
        f"element_at({names}, aggregate("
        f"zip_with({arr_sql}, sequence(1, {len(langs)}), (s, i) -> struct(s, i)), "
        f"struct(-1 as s, 0 as i), "
        f"(acc, x) -> if(x.s > acc.s, x, acc)).i)"
    )
    return (
        df.withColumn(reduced_col, F.expr(reduced))
        .withColumn(out, F.expr(sql))
        .drop(reduced_col)
    )


def with_fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Deterministic document fingerprint: md5 of the whitespace-normalized
    lowercased text (md5 is bit-identical across engines)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.withColumn(out, F.md5(norm))


# -- sentence segmentation & chunking ----------------------------------------

#: terminal-punctuation split — same semantics under Java regex and RE2
SENTENCE_SPLIT_RE = "[.!?]+"


def split_sentences(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per non-empty sentence (split on terminal punctuation runs,
    trimmed). Pure Catalyst: split + transform + filter + posexplode — the
    hot-path formulation; `sentence_udtf` below is the same semantics on
    Spark's native Python-UDTF surface (U4)."""
    parts = F.split(F.col(text_col), SENTENCE_SPLIT_RE)
    cleaned = F.filter(F.transform(parts, F.trim), lambda s: s != "")
    return df.select(
        id_col, F.posexplode(cleaned).alias("sentence_idx", "sentence")
    )


def chunk_tokens(
    df: DataFrame,
    chunk_size: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking (the RAG / pretraining-context
    chunking primitive): whitespace tokens windowed into ``chunk_size``-token
    chunks starting every ``stride`` tokens. Integer arithmetic only, so the
    DuckDB oracle is exact. One projection + one explode — no shuffle, no
    UDF; at 100 TB the fan-out is bounded by ~n_tokens/stride per doc."""
    toks = tokens(text_col)
    n = F.size(toks)
    # chunks = 1 + max(0, ceil((n - chunk_size) / stride)), all-int
    n_chunks = F.lit(1) + F.greatest(
        F.lit(0),
        F.ceil((n - F.lit(chunk_size)).cast("double") / F.lit(stride)).cast("int"),
    )
    df = df.select(
        id_col,
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(F.col("_toks"), F.col("chunk_idx") * stride + 1, chunk_size)
    return df.select(
        id_col,
        "chunk_idx",
        F.size(chunk).alias("chunk_len"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )
