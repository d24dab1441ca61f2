"""Hamming-LSH near-dup mining (operators/hamming.py) — built round 10,
driver-registered round 12 as `d_simhash_neardup` (plans/dedup.py). The
canonical twin SQL moved there at registration; this suite imports it and
pins the pigeonhole/cap/validation contract edges."""

from pyspark.sql import functions as F


def test_hamming_neardup_matches_duckdb(spark, duck):
    """The registered query (banded candidates + exact verify over the
    corpus simhash fingerprints — a REAL skewed hash distribution,
    sign-bit-mixed so negative codes and arithmetic-shift band keys are
    exercised) exact vs the canonical oracle, both imported from the
    registry."""
    from unravelsports_spark.plans import ORACLE_SQL, QUERIES

    from .conftest import SF_CORRECT

    got = sorted(
        map(tuple, QUERIES["d_simhash_neardup"](spark, SF_CORRECT).collect())
    )
    want = sorted(map(tuple, duck.execute(ORACLE_SQL["d_simhash_neardup"]).fetchall()))
    assert got == want and len(got) > 0


def test_hamming_pigeonhole_recall_exact_below_bands(spark):
    """Every pair at distance < bands MUST be found (a pair at distance 3
    with 4 bands leaves one band untouched); a pair differing in every
    band is findable only when some slice still matches."""
    from unravelsports_spark.operators.hamming import hamming_neardup_pairs

    base = 0x0123456789ABCDEF
    rows = [
        (0, base),
        (1, base ^ 0b111),            # distance 3, all flips in band 0
        (2, base ^ (1 << 1) ^ (1 << 17) ^ (1 << 33)),  # 3 flips, 3 bands
        (3, base ^ (1 << 0) ^ (1 << 16) ^ (1 << 32) ^ (1 << 48)),  # 4 bands
    ]
    df = spark.createDataFrame(rows, "id long, h long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_neardup_pairs(df, "h", "id", threshold=4, bands=4).collect()
    }
    assert got[(0, 1)] == 3 and got[(0, 2)] == 3  # pigeonhole guarantees
    assert (0, 3) not in got  # every band touched: banding cannot see it
    # and distances between the variants themselves are exact bit_count:
    # flips {0,1,2} vs {1,17,33} — bit 1 cancels in the xor → 4
    assert got[(1, 2)] == 4


def test_hamming_hot_bucket_cap(spark):
    """A degenerate constant code (blank assets) floods one bucket; the
    cap drops it BEFORE the self-join instead of going quadratic."""
    from unravelsports_spark.operators.hamming import hamming_neardup_pairs

    rows = [(i, 0) for i in range(50)] + [(100, 7), (101, 5)]
    df = spark.createDataFrame(rows, "id long, h long")
    got = sorted(
        map(
            tuple,
            hamming_neardup_pairs(
                df, "h", "id", threshold=3, bands=4, max_bucket=10
            ).collect(),
        )
    )
    # the zero-code flood (>10 per bucket) is dropped entirely; 7 vs 5
    # share the three untouched bands and differ by bit_count(2)=1... but
    # they also share band-0 bucket only if (7&0xFFFF)==(5&0xFFFF) (no) —
    # bands 1..3 are all zero for both, which collides with the flood's
    # buckets and gets capped too. So nothing survives: the cap is a
    # recall trade-off and this pins the semantics (drop, not truncate).
    assert got == []


def test_hamming_rejects_bad_bands(spark):
    import pytest

    from unravelsports_spark.operators.hamming import hamming_neardup_pairs

    df = spark.createDataFrame([(1, 2)], "id long, h long")
    with pytest.raises(ValueError):
        hamming_neardup_pairs(df, "h", "id", bands=5)


def test_hamming_banded_equals_bruteforce_below_bands(spark):
    """Property (hypothesis): for threshold < bands the banded miner's
    output EQUALS brute-force exact Hamming pairs — the pigeonhole
    guarantee as a law over random codes, not one example."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from unravelsports_spark.cache import release_tracked
    from unravelsports_spark.operators.hamming import hamming_neardup_pairs

    codes = st.lists(
        st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
        min_size=2,
        max_size=12,
        unique=True,
    )

    @settings(max_examples=12, deadline=None)
    @given(codes)
    def law(hs):
        rows = [(i, h) for i, h in enumerate(hs)]
        df = spark.createDataFrame(rows, "id long, h long")
        got = sorted(
            map(
                tuple,
                hamming_neardup_pairs(df, "h", "id", threshold=3, bands=4).collect(),
            )
        )
        release_tracked()
        want = sorted(
            (i, j, bin((hs[i] ^ hs[j]) & ((1 << 64) - 1)).count("1"))
            for i in range(len(hs))
            for j in range(i + 1, len(hs))
            if bin((hs[i] ^ hs[j]) & ((1 << 64) - 1)).count("1") <= 3
        )
        assert got == want, (got, want)

    law()
