"""Every top-level def in the package has a caller outside `tests/`, and
every defaulted parameter is set by one.

A def is called when some non-test source file names it outside the def's own
body: as a Name, an attribute, an import alias or an identifier string (a
registry key, a `getattr` argument). Names used only inside other uncalled defs
do not count, so the scan repeats until nothing more drops out. Comments are
not in the AST, so a comment that mentions a def does not keep it alive.

A defaulted parameter that no non-test caller passes, by keyword or by
position, is a setting the system only ever runs at one value: delete it and
inline that value, or allow-list it with a reason. The parameter scan covers
functions and methods whose name is defined once in the package and that no
caller uses as a value (only calls), so every call site is known.

The scans read source with `ast` only; they need no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "unravelsports_spark"
# Every non-test caller of the package: the package itself, the examples, the
# benchmark, the tools and the two entry scripts.
CALLER_ROOTS = ("unravelsports_spark", "examples", "perfbench", "tools",
                "bench.py", "__spark_entry__.py")

ALLOWED = {
    # The paper's public API (ROADMAP direction 7): kept for users of the
    # reference library even where only tests call it.
    "load_kloppy", "load_kloppy_wide", "collate_disjoint", "segment_mean_pool",
    "normalize_speed", "normalize_acceleration", "Pad",
    # Dormant geometry utilities of the reference (SURVEY K15).
    "ray_line_intersections", "rotate_vectors", "rotate_around_line",
    # The media sink's public surface (SURVEY S5/J8).
    "to_graph_png", "to_graph_mp4", "to_video", "nearest_frame",
    # Test hook: clears the per-process table cache between tests.
    "read_table_cache_clear",
}


#: Defaulted parameters no non-test caller sets that stay, by reason: each
#: maps a function or method name to its kept parameters.
PARAMS_ALLOWED = {
    # The paper's public API (ROADMAP direction 7): the provider loaders'
    # smoothing, threshold and sample keywords, the dataset splits, the GNN
    # training keywords and the package's session and duration helpers.
    "public API": {
        "load_kloppy": "game_id settings",
        "load_kloppy_wide": "game_id objects position_of team_of",
        "load_skillcorner": "ball_carrier_threshold ball_smoothing limit "
                            "max_ball_acceleration max_ball_speed "
                            "max_player_acceleration max_player_speed player_smoothing",
        "load_sportec": "ball_carrier_threshold ball_smoothing limit "
                        "max_ball_acceleration max_ball_speed "
                        "max_player_acceleration max_player_speed player_smoothing",
        "split_by_graph_id": "graph_id_col seed test train val",
        "split_by_graph_id_stratified": "graph_id_col label_col label_ratios seed test train val",
        "streaming_formation_detection": "change_after_possession change_threshold formations settings",
        "graph_loader": "batch_size",
        "build_crystal_gnn": "channels layers",
        "read_tracking": "game_id",
        "get_spark": "shuffle_partitions",
        "duration": "milliseconds minutes seconds",
        "rotate_vectors": "origin",
    },
    # The sinks' write mode and the media sink's rendering keywords.
    "sink API": {
        "write_graph_frames": "mode",
        "write_tracking": "mode",
        "write_csv": "mode",
        "write_jsonl": "mode",
        "to_graph_png": "color_by",
        "to_graph_mp4": "color_by fps max_frames quality",
        "to_png_sequence": "max_frames",
        "to_video": "fps max_frames quality",
        "to_mp4": "max_frames quality",
    },
    # Fault recovery: checkpoint each round to reliable storage.
    "reliable checkpoint": {
        "connected_components": "reliable",
        "kcore_peel": "reliable",
    },
    # `n_ranges=None` is the naive single-window form that
    # tests/test_serieswin.py compares every ranged path against.
    "naive reference form": {
        "gap_neighbors": "n_ranges",
        "moving_sum_count": "n_ranges",
        "pack_sequences": "n_ranges",
    },
    # Settings the tests run at other values, where the value is the
    # operator's contract: the ledger chain and its LSH shape, the recrawl
    # interval clamp, the tracking-parameter set.
    "tested at other values": {
        "incremental_semdedup": "seen threshold n_tables bits_per_table",
        "recrawl_schedule": "min_interval_sec max_interval_sec",
        "url_canonicalize": "strip_params",
    },
    # Functions behind a registered query that is not due for
    # re-certification: editing them edits that query, so they wait for a
    # driver round to certify it first.
    "behind a query that is not due": {
        "tracked_persist": "level",
        "savgol_by_key": "n_buckets",
        "asof_join": "suffix tolerance",
        "audio_segments": "frame_len payload_col threshold",
        "bloom_contaminated_docs": "id_col text_col",
        "boilerplate_flags": "id_col min_docs min_frac sep source_col text_col",
        "strip_boilerplate": "id_col sep source_col text_col",
        "bpe_apply": "id_col text_col",
        "bpe_train_merges": "id_col text_col",
        "containment_pairs": "id_col",
        "dup_span_stats": "id_col max_fp_freq",
        "exact_dedup": "id_col text_col",
        "incremental_dedup": "id_col text_col",
        "jaccard_pairs": "id_col",
        "lsh_candidate_pairs": "id_col single_pass",
        "minhash_signatures": "id_col",
        "simhash": "id_col text_col",
        "window_fingerprints": "id_col text_col",
        "embedding_dim_stats": "emb_col",
        "contaminated_docs": "id_col text_col",
        "scrub_pii": "text_col",
        "with_repetition_stats": "text_col",
        "hamming_neardup_pairs": "max_bucket",
        "corpus_kl": "id_col text_col",
        "corpus_kl_sql": "table",
        "dsir_scores": "id_col text_col",
        "dsir_sql": "table",
        "perplexity_bucket_sample": "group_col id_col keep_pcts",
        "rolling_zscore_anomalies": "min_history",
        "brp_ann_topk": "bucket_length emb_col id_col num_tables seed",
        "minhash_similarity_join": "id_col num_features num_tables seed shingle_n text_col",
        "audio_mfcc": "frame_len hop n_mels n_mfcc payload_col",
        "audio_spectral_features": "payload_col",
        "decode_images": "payload_col",
        "extract_audio_features": "payload_col",
        "sample_avi_frames": "decode payload_col",
        "release_diff_report": "id_col source_col text_col",
        "bigram_logprob": "id_col text_col",
        "bm25_scores": "b corpus_stats id_col k1 text_col",
        "countmin_estimates": "depth id_col text_col top_k width",
        "rrf_fuse": "id_col",
        "unigram_logprob": "id_col text_col",
        "parse_robots": "domain_col text_col",
        "robots_filter": "url_col",
        "mixture_rates": "persist",
        "sample_mixture": "domain_col text_col",
        "_bucket_cosine_removed": "group_cols",
        "_cosine_vs_refs": "id_col v_col",
        "_sign_lsh_bev": "id_col v_col",
        "cluster_balanced_sample": "emb_col id_col",
        "with_cosine": "out",
        "with_nearest_centroid": "cell_col d2_col",
        "parse_sitemaps": "domain_col text_col",
        "with_salt": "seed",
        "chunk_tokens": "chunk_size id_col stride text_col",
        "split_sentences": "id_col text_col",
        "with_bpe_token_count": "out text_col",
        "with_fingerprint": "out text_col",
        "with_lang_id": "out text_col",
        "with_quality": "text_col",
        "with_token_count": "out text_col",
        "unigram_tokenize_stats": "id_col max_piece_len text_col",
        "unigram_train": "shrink_factor text_col",
        "scene_cuts": "payload_col threshold",
        "tfidf_terms": "id_col text_col",
        "vocab_topk": "id_col text_col",
        "greedy_wordpiece": "max_token_len",
        "wordpiece_tokenize_stats": "id_col text_col",
        "wordpiece_train": "min_pair_count text_col",
        "_cdc_chunks_sql": "D w",
        "_containment_sql": "cap top",
        "_countmin_sql": "depth top_k width",
        "cdc_chunk_frame": "D w",
        "hamming_twin_sql": "bands max_bucket",
        "semdedup_multitable_stats": "n_tables planes threshold",
        "_bm25_sql": "b k1 terms",
        "_bpe_tokenized_stats_sql": "num_merges",
        "read_table": "refresh",
        "read_csv_checked": "materialize multi_line schema",
        "read_jsonl": "schema",
        "interval_join": "watermark",
        "ann_search_from_index": "dedup_updates emb_col id_col",
    },
}


def _source_files():
    for root in CALLER_ROOTS:
        path = ROOT / root
        yield from (sorted(path.rglob("*.py")) if path.is_dir() else [path])


def _names(node):
    """Every identifier `node` names: Names, attributes, import aliases and
    identifier-shaped string constants."""
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            out.add(sub.attr)
        elif isinstance(sub, ast.alias):
            out.update(sub.name.split("."))
            if sub.asname:
                out.add(sub.asname)
        elif isinstance(sub, ast.Constant) and isinstance(sub.value, str) \
                and sub.value.isidentifier():
            out.add(sub.value)
    return out


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def uncalled_defs():
    """`[(module path, def name, lines)]` of the package's top-level defs
    with no caller, after dropping references from uncalled defs."""
    defs = []        # (path, name, lines, names its body uses)
    always = set()   # names used by module-level code of any caller file
    for path in _source_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        in_package = PACKAGE in path.parents
        for stmt in tree.body:
            if in_package and isinstance(stmt, _DEFS):
                start = min([stmt.lineno] + [d.lineno for d in stmt.decorator_list])
                # A decorator runs at import time (`@query(...)` registers
                # the def), so it is a caller outside the def's body.
                for deco in stmt.decorator_list:
                    always |= _names(deco)
                body = set().union(*(_names(s) for s in ast.iter_child_nodes(stmt)
                                     if s not in stmt.decorator_list))
                defs.append((path.relative_to(ROOT).as_posix(), stmt.name,
                             stmt.end_lineno - start + 1, body))
            else:
                always |= _names(stmt)
    live = list(range(len(defs)))
    while True:
        used = set(always)
        for i in live:
            used |= defs[i][3] - {defs[i][1]}
        kept = [i for i in live if defs[i][1] in used or defs[i][1] in ALLOWED]
        if kept == live:
            break
        live = kept
    dead = sorted(set(range(len(defs))) - set(live))
    return [defs[i][:3] for i in dead]


def test_every_package_def_has_a_caller():
    dead = uncalled_defs()
    assert not dead, (
        f"{len(dead)} package defs ({sum(n for _, _, n in dead)} lines) have no "
        "caller outside tests/; give each a caller the system needs or delete "
        "it:\n" + "\n".join(f"  {path}:{name} ({n} lines)" for path, name, n in dead))


def test_allow_list_names_existing_defs():
    names = set()
    for path in PACKAGE.rglob("*.py"):
        names |= {s.name for s in ast.parse(path.read_text()).body if isinstance(s, _DEFS)}
    assert ALLOWED <= names, sorted(ALLOWED - names)


def _allowed_params():
    return {(fn, p) for by_fn in PARAMS_ALLOWED.values()
            for fn, params in by_fn.items() for p in params.split()}


def _package_functions():
    """`{name: [(module path, def node, is_method)]}` for the package's
    top-level functions and class methods."""
    out = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            members = stmt.body if isinstance(stmt, ast.ClassDef) else [stmt]
            for node in members:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    out.setdefault(node.name, []).append(
                        (rel, node, isinstance(stmt, ast.ClassDef)))
    return out


def _defaulted(node, is_method):
    """`[(position or None, name)]` of `node`'s defaulted parameters; the
    position counts call-site arguments, so a method's `self` is skipped."""
    a = node.args
    pos = a.posonlyargs + a.args
    deco = {d.id for d in node.decorator_list if isinstance(d, ast.Name)}
    skip = int(is_method and "staticmethod" not in deco)
    first = len(pos) - len(a.defaults)
    return [(i - skip, p.arg) for i, p in enumerate(pos) if i >= first] + [
        (None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]


def unset_params():
    """`[(module path, function, parameter)]` of defaulted parameters that
    no non-test call site passes, over the uniquely named package functions
    that are only ever called."""
    calls, values = {}, set()
    for path in _source_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        callees = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    calls.setdefault(name, []).append(node)
                    callees.add(id(f))
        for node in ast.walk(tree):
            if id(node) in callees or not isinstance(getattr(node, "ctx", None), ast.Load):
                continue
            if isinstance(node, ast.Name):
                values.add(node.id)
            elif isinstance(node, ast.Attribute):
                values.add(node.attr)
    out = []
    for name, defs in _package_functions().items():
        if len(defs) != 1 or name in values or name.startswith("__"):
            continue
        path, node, is_method = defs[0]
        # a decorator may wrap the function or register it as a value
        if any(not (isinstance(d, ast.Name) and d.id in ("staticmethod", "classmethod"))
               for d in node.decorator_list):
            continue
        for pos, param in _defaulted(node, is_method):
            if not any(
                any(k.arg in (None, param) for k in c.keywords)
                or any(isinstance(x, ast.Starred) for x in c.args)
                or (pos is not None and pos < len(c.args))
                for c in calls.get(name, ())
            ):
                out.append((path, name, param))
    return out


def test_every_defaulted_parameter_is_set_by_a_caller():
    unset = [u for u in unset_params() if u[1:] not in _allowed_params()]
    assert not unset, (
        f"{len(unset)} defaulted parameters are set by no caller outside "
        "tests/; delete each and inline its one value, or allow-list it in "
        "PARAMS_ALLOWED with a reason:\n"
        + "\n".join(f"  {path}:{fn}({param}=)" for path, fn, param in unset))


def test_parameter_allow_list_names_unset_parameters():
    """A stale entry cannot outlive its code: each names an existing
    function's defaulted parameter that no caller sets."""
    defaulted = {(name, p) for name, defs in _package_functions().items()
                 for _, node, is_method in defs for _, p in _defaulted(node, is_method)}
    allowed = _allowed_params()
    assert allowed <= defaulted, sorted(allowed - defaulted)
    unset = {u[1:] for u in unset_params()}
    assert allowed <= unset, sorted(allowed - unset)
