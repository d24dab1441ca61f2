"""Snapshot-oracle hygiene (VERDICT r9 #4): pin the md5 of every
snapshot / literal-VALUES oracle whose text is REGENERABLE from its own
operator (``python tools/registry.py values NAME`` prints it), and of the
MLlib/HLL estimator snapshots.

The hole this closes: a commit that changes an operator AND re-runs the
generator in the same session silently re-baselines the oracle — the driver
hash stays green while the behavior changed. With these pins, regenerating
an oracle REQUIRES a second, separate edit in this file, so every
re-snapshot is a visible, reviewable diff line. An intended regeneration
updates the pin here with one line; an unintended one fails CI.

Exact-SQL oracles (DuckDB recomputes the result) are NOT pinned — they
cannot be silently re-baselined because they encode the computation, not
its output.
"""

import hashlib

#: md5 of the oracle SQL text at the time each snapshot was last
#: INTENTIONALLY regenerated (see module docstring before editing).
PINS = {
    # estimator snapshots (r8)
    "a9_approx_distinct": "e3baf899cef63038f1e83d3b177a5c71",
    "a15_hll_sketch_union": "8beb2f22d4aa4821bd06a4fa417d9635",
    "s_ann_mllib_brp": "4a75e003e818c8f19e1c2d28c9bb6c5b",
    "d_mllib_minhash_join": "6ef9697a8ef26334fbfde44f2279cd77",
    # r9 twins (mm_image_phash re-snapshotted when the
    # hash moved to exact integer arithmetic: two float-rounded rows moved)
    "mm_image_phash": "732c781f5c2ee008ed58e857e1abc9a8",
    "t_unigram_vocab": "5584f10c4580c627ed33c0fedc04cb71",
    "t_unigram_tokens": "3b7ff5fc4d48568baf344f09d73f9887",
    # r10 twins
    "t_wordpiece_vocab": "6cdb7cad4a15311be3c5999e76f28cbe",
    "mm_audio_mfcc": "8dddd56b809495596a5926f48c6863df",
    "t_wordpiece_tokens": "66b54c7e232f0a346c70fc0d8f74826c",
    # plans/models.py (kernel-cell VALUES twins — their kernels are
    # additionally pinned by reference goldens; the two
    # AF pins were re-snapshotted, with the AF kernel unchanged, when the
    # input moved to the generated BDB sample)
    "m_af_cells": "1e3ace99b4351ea0023c0d17d29ec30d",
    "m_delaunay_cells": "43e27084aa6f1480733fda759c059d52",
    "m_efpi_cells": "f51862f817c0d281505f2db0f133eac0",
    "m_graph_cells": "ee220cfa184f58813326cd8ee84795bf",
    "m_graph_custom_cells": "f71b0a68dc4933233974bb500c6ecd4a",
    "m_pi_cells": "f1382c779dd93c1a18e3e6168f82187b",
    "m_savgol_cells": "3bd1dd66ec88467e09a5938a836accfd",
    # plans/models.py (r14 full-output fingerprint twins, VERDICT r13
    # #2 — assembly ordering/padding certified, not just sampled cells)
    # (pins re-snapshotted once in-round: r14 review #4 removed the
    # double md5 in the fp keys, which changes every fp_sum)
    "m_pressing_intensity_fp": "4f66c385010d3420bb7071542999ad4e",
    "m_graph_convert_fp": "31b9fdd96f3ac651dca762ec0ba3c49b",
    "m_graph_convert_delaunay_fp": "20123e1cda3714b37c054121fe723fa4",
    "m_af_graph_convert_fp": "8e69f5f4ce3166794df68ab673d3acba",
    "m_efpi_possession_fp": "e60b61455488dad02ce8d356358ac66b",
    # sf-scale input (events), registered with scale="sf0.01"
    "m_savgol_events_fp": "a747ebb4aea8fa995944207f493ab2de",
}


def test_snapshot_oracles_match_pins():
    from unravelsports_spark.plans import ORACLE_SQL

    mismatched = {
        name: hashlib.md5(ORACLE_SQL[name].encode()).hexdigest()
        for name in PINS
        if hashlib.md5(ORACLE_SQL[name].encode()).hexdigest() != PINS[name]
    }
    assert not mismatched, (
        "snapshot oracle text changed without updating its pin — if the "
        "regeneration was intended, update PINS in this file (a separate, "
        f"visible edit): {mismatched}"
    )


def test_every_snapshot_class_oracle_is_pinned():
    """Every query registered with scale="sf0.01" AND every literal-VALUES oracle
    in the registry must be pinned — a new snapshot-class oracle added without
    a pin re-opens the silent-re-baseline hole for exactly the class of
    oracle this file exists to guard (r10 review finding #2: the first
    version only checked the sf0.01 snapshot set)."""
    import re

    from unravelsports_spark.plans import ORACLE_SQL, SCALE

    unpinned = {n for n, s in SCALE.items() if s == "sf0.01"} - set(PINS)
    assert not unpinned, f"snapshot-class oracles without a pin: {unpinned}"

    values_pat = re.compile(r"FROM\s*\(\s*VALUES", re.I)
    values_oracles = {k for k, v in ORACLE_SQL.items() if values_pat.search(v)}
    unpinned_values = values_oracles - set(PINS)
    assert not unpinned_values, (
        "literal-VALUES oracles without a pin (add the md5 to PINS): "
        f"{sorted(unpinned_values)}"
    )
