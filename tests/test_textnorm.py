"""Unicode text normalization (operators/textnorm.py, built round 11 —
VERDICT r10 #3). The NFC leg is driver-certified against DuckDB's
nfc_normalize (plans/text.py t_text_normalize); the NFKC/cleanup leg has
no DuckDB builtin, so it is pinned here by a VALUES twin (hardcoded
expected strings) plus the before/after dedup-key delta the operator
exists to provide."""

import pytest
from pyspark.sql import functions as F

from .conftest import SF_CORRECT

# ---------------------------------------------------------------------------
# NFKC VALUES twin: (input, expected) pairs covering every pipeline stage.
# Expected strings are hand-derived from the Unicode spec (compatibility
# decompositions + canonical composition), not from running the operator —
# regenerating them requires re-deriving, not re-snapshotting.
# ---------------------------------------------------------------------------
NFKC_CASES = [
    # canonical composition (shared with NFC)
    ("cafe\u0301", "caf\u00e9"),
    # compatibility folds NFC must NOT do: ligature, fullwidth, superscript
    ("\ufb01le", "file"),
    ("\uff11\uff12\uff13", "123"),
    ("x\u00b2", "x2"),
    # NBSP is compatibility-mapped to SPACE, then collapsed with neighbors
    ("a\u00a0\u00a0b", "a b"),
    # Cf strip: zero-width space / joiner, soft hyphen, BOM
    ("a\u200bb c\u00add", "ab cd"),
    ("e\u200d\ufefff", "ef"),
    # Cc strip (BEL, STX) while ASCII whitespace controls collapse
    ("x\u0007y\tz\u0002", "xy z"),
    # whitespace canonicalization + trim
    ("  two  words \n here  ", "two words here"),
    ("", ""),
    # trailing LINE SEPARATOR (Zl — not Cc/Cf, not ASCII whitespace) and a
    # trailing NBSP under NFC survive on BOTH engines: the final trim is
    # space-only on each side (the operator strips " " only; the oracle
    # trims with regexp '^ +| +$' — NOT DuckDB trim(), which eats all Zs;
    # r11 review findings pass 1 #1 + pass 2 #1, pinned below)
]


def test_nfkc_values_twin(spark):
    from unravelsports_spark.operators.textnorm import normalize_text

    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(NFKC_CASES)], ["id", "text"]
    )
    got = {
        r["id"]: r["norm_text"]
        for r in normalize_text(df, form="NFKC").collect()
    }
    for i, (_, want) in enumerate(NFKC_CASES):
        assert got[i] == want, (i, ascii(NFKC_CASES[i][0]), ascii(got[i]), ascii(want))


def test_nfc_preserves_compatibility_forms(spark):
    """NFC composes canonically but must NOT fold compatibility forms —
    the ligature and fullwidth digits survive (that aggressiveness is
    exactly what the form parameter selects)."""
    from unravelsports_spark.operators.textnorm import normalize_text

    df = spark.createDataFrame(
        [(0, "café ﬁle １")], ["id", "text"]
    )
    [r] = normalize_text(df, form="NFC").collect()
    assert r["norm_text"] == "café ﬁle １"


def test_normalize_str_independent_recompute():
    """Driver-side normalize_str equals an independently-written
    recompute (normalize, then per-char category filter, then split/join
    — a different formulation of the same spec) over the NFKC cases and
    the registered query's suffix corpus."""
    import unicodedata

    from unravelsports_spark.operators.textnorm import _CF_FORWARD, normalize_str
    from unravelsports_spark.plans.text import _TEXTNORM_SUFFIXES

    def independent(s, form):
        out = []
        for ch in unicodedata.normalize(form, s):
            cat = unicodedata.category(ch)
            if ch in "\t\n\v\f\r":
                out.append(" ")
            elif cat in ("Cc", "Cf") or ord(ch) in _CF_FORWARD:
                # the operator's spec: Cc/Cf per unicodedata UNION the
                # pinned forward-compat Cf set (r11 pass 3 finding #3 —
                # the recompute must track the shipped spec)
                continue
            else:
                out.append(ch)
        return " ".join(w for w in "".join(out).split(" ") if w)

    for s, _ in NFKC_CASES:
        assert normalize_str(s, "NFKC") == independent(s, "NFKC"), ascii(s)
    probes = ["A document body " + sfx for sfx in _TEXTNORM_SUFFIXES]
    probes.append("hiero\U00013439glyph \U0001343fend")  # _CF_FORWARD live
    for probe in probes:
        assert normalize_str(probe, "NFC") == independent(probe, "NFC"), ascii(probe)
    assert normalize_str("a\U00013439b", "NFC") == "ab"  # pin actually strips


def test_trim_is_space_only():
    """The final trim is SPACE-ONLY on both engines (operator .strip(" ");
    oracle regexp '^ +| +$' — deliberately not DuckDB trim(), which strips
    every Zs, nor Python .strip(), which also eats Zl/Zp): a trailing
    U+2028 LINE SEPARATOR or NFC-surviving NBSP is KEPT. Either default
    would flip the certified fingerprint sum on a non-ASCII corpus (r11
    review pass 1 #1 + pass 2 #1)."""
    from unravelsports_spark.operators.textnorm import normalize_str

    assert normalize_str("abc\u2028", "NFC") == "abc\u2028"
    assert normalize_str("abc\u00a0", "NFC") == "abc\u00a0"
    # but under NFKC the NBSP compatibility-maps to SPACE and trims away
    assert normalize_str("abc\u00a0", "NFKC") == "abc"
    # and a genuinely ASCII-space-padded string still trims fully
    assert normalize_str("  abc \t ", "NFC") == "abc"


def test_dedup_key_delta(spark):
    """The reason the operator exists: unicode variants of ONE document
    (decomposed accent, zero-width insertion, NBSP spacing under NFKC)
    defeat the byte-level dedup fingerprint BEFORE normalization and
    collapse to one survivor AFTER."""
    from unravelsports_spark.operators.dedup import exact_dedup
    from unravelsports_spark.operators.textnorm import normalize_text

    variants = [
        (0, "the caf\u00e9 menu changed"),
        (1, "the cafe\u0301 menu changed"),
        (2, "the caf\u00e9 menu\u200b changed"),
        (3, "the caf\u00e9\u00a0menu changed"),
        (4, "an unrelated document"),
    ]
    df = spark.createDataFrame(variants, ["doc_id", "text"])
    before = exact_dedup(df)
    assert before.count() == 5  # every variant survives: dedup is defeated
    normed = normalize_text(df, form="NFKC")
    after = exact_dedup(normed, text_col="norm_text")
    assert after.count() == 2  # 4 variants collapse to one + the unrelated
    assert {r["doc_id"] for r in after.collect()} == {0, 4}


def test_null_passthrough_and_bad_form(spark):
    from unravelsports_spark.operators.textnorm import normalize_text

    df = spark.createDataFrame([(0, None), (1, "  a  ")], ["id", "text"])
    got = {r["id"]: r["norm_text"] for r in normalize_text(df).collect()}
    assert got[0] is None and got[1] == "a"
    with pytest.raises(ValueError):
        normalize_text(df, form="NFX")
    # out_col collision fails LOUD at call time (ADVICE r11 #3), not as a
    # downstream ambiguous-reference AnalysisException
    with pytest.raises(ValueError, match="already a column"):
        normalize_text(df, out_col="text")


def test_idempotent(spark):
    """normalize(normalize(x)) == normalize(x) for both forms over the
    registered query's suffix corpus — normalized text is a fixed point,
    so re-running ingest canonicalization can never move fingerprints."""
    from unravelsports_spark.operators.textnorm import normalize_str
    from unravelsports_spark.plans.text import _TEXTNORM_SUFFIXES

    for form in ("NFC", "NFKC"):
        for sfx in _TEXTNORM_SUFFIXES:
            once = normalize_str("Body text " + sfx, form)
            assert normalize_str(once, form) == once


def test_registered_query_matches_duckdb(spark, duck):
    """Mirror of the sweep gate for t_text_normalize at SF_CORRECT (the
    NFC leg's full SQL twin — nfc_normalize + identical regex pipeline)."""
    from unravelsports_spark.plans import ORACLE_SQL, QUERIES

    got = sorted(map(tuple, QUERIES["t_text_normalize"](spark, SF_CORRECT).collect()))
    want = sorted(map(tuple, duck.execute(ORACLE_SQL["t_text_normalize"]).fetchall()))
    assert got == want and len(got) == 20
    # the normalization must genuinely fire: most docs carry a suffix that
    # changes under the pipeline, so n_changed > 0 for every source
    assert all(r[4] > 0 for r in got)


def test_exotic_boundary_chars_match_oracle(spark, tmp_path):
    """Cross-engine parity on the divergence classes review pass 2 proved
    (r11): C1 controls (NEL), bidi Cf (LRM/RLO), invisible operators
    (U+2061), arabic number sign (U+0600), tag-plane Cf (U+E0041), the
    Unicode-15 hieroglyph format controls (_CF_FORWARD), boundary NBSP /
    ideographic space (DuckDB trim() would eat them - the oracle's
    space-only regexp must not), and trailing LS. The REGISTERED query
    runs against a synthetic documents table holding these at word
    boundaries and must hash-match its own oracle."""
    import duckdb

    from unravelsports_spark.plans import ORACLE_SQL, QUERIES

    # boundary-trailing rows take doc_id % 6 == 0 so the registered
    # query's suffix injection appends NOTHING and the exotic char stays
    # at the true trim boundary (r11 pass 3 finding #2 — a non-empty
    # suffix would displace it mid-string and void the trim coverage)
    rows = [
        (1, "src0", "plain body text"),
        (2, "src0", "nel\u0085joined"),
        (3, "src0", "lrm\u200emark rlo\u202einjection"),
        (4, "src1", "fn\u2061apply \u0600year"),
        (5, "src1", "tag\U000e0041ged"),
        (7, "src1", "hiero\U00013439glyph \U0001343fend"),
        (0, "src2", "\u00a0leading nbsp and trailing\u00a0"),
        (6, "src2", "\u3000ideographic bounds\u3000"),
        (12, "src2", "trailing line sep\u2028"),
        (18, "src2", "  ascii pad  "),
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, source string, text string") \
        .write.parquet(f"{d}/documents.parquet")
    got = sorted(map(tuple, QUERIES["t_text_normalize"](spark, d).collect()))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{d}/documents.parquet/*.parquet')"  # Spark writes a shard dir
    )
    want = sorted(map(tuple, con.execute(ORACLE_SQL["t_text_normalize"]).fetchall()))
    assert got == want and len(got) == 3
    # and the normalization genuinely fired on the exotic rows
    assert any(r[4] > 0 for r in got)


@pytest.mark.environment_parity
def test_cf_table_parity_tripwire(duck):
    """The REAL _CF_FORWARD tripwire (r11 pass 3 finding #1): re-derive the
    RE2-\\p{Cf} set from the INSTALLED DuckDB over the full codepoint range
    and require it to equal Python's Cf table UNION the pinned forward set
    exactly — a future DuckDB/RE2 Unicode bump that adds (or removes) Cf
    codepoints fails HERE, not as a silent certified-hash divergence on the
    first real corpus that contains one. (~2 s: one vectorized SQL scan.)"""
    import sys
    import unicodedata

    from unravelsports_spark.operators.textnorm import _CF_FORWARD

    rows = duck.execute(
        """
        SELECT i FROM (
          SELECT i FROM range(0, 55296) t(i)
          UNION ALL
          SELECT i FROM range(57344, 1114112) t(i)
        ) WHERE regexp_matches(chr(CAST(i AS INT)), '\\p{Cf}')
        """
    ).fetchall()
    re2_cf = {r[0] for r in rows}
    py_cf = {
        cp
        for cp in range(sys.maxunicode + 1)
        if unicodedata.category(chr(cp)) == "Cf"
    }
    assert re2_cf == py_cf | set(_CF_FORWARD), {
        # numeric sort THEN hex — lexicographic hex misorders mixed widths
        "re2_only": [hex(c) for c in sorted(re2_cf - py_cf - set(_CF_FORWARD))],
        "pin_dead": [hex(c) for c in sorted(set(_CF_FORWARD) - re2_cf)],
        "py_only": [hex(c) for c in sorted(py_cf - re2_cf)],
    }
