"""Every public package function or class is reached from what the program
serves, or it is on an explicit allow-list.

The roots are the ``@register`` queries, ``run_etl`` (the job DAG),
``bench.py`` (extras included), ``__spark_entry__.py``, every
``perfbench/*.py`` and the module-level code of every package module.  The
closure is transitive and name-based: a reached body reaches every
top-level name it mentions, in any package module.  Imports alone reach
nothing, so importing a name to re-export it does not keep it alive.

The scan over-approximates reach (two modules' functions with the same
name are reached together), so a name it calls unreached is truly
unreached.  The allow-list holds the names still unreached; an entry must
go when its name is deleted or becomes reached, so the list cannot go stale.

Run alone: ``python -m pytest tests/test_reachability.py -q``.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "uma_etl_iis_loader_spark"

# module (relative to the package, dotted) -> names still unreached.  Each
# is for a later change to either give a measured caller or delete.
ALLOWED_UNREACHED: dict[str, set[str]] = {
    "functions.bpe": {"bpe_decode"},
    "functions.normalize": {"py_or_int"},
    "functions.text": {
        "char_ngrams",
        "extract_domain",
        "normalize_unicode_udf",
        "simhash64",
        "strip_html",
        "winnow_fingerprints",
        "word_ngrams",
    },
    "functions.timeparse": {"seconds_to_hhmm"},
    "functions.vectors": {
        "cosine",
        "dequantize_int8",
        "dot",
        "l2_distance",
        "l2_normalize",
        "quantize_int8",
    },
    "io": {"compact_snapshot", "load_fixtures", "overwrite_partitions", "write_bucketed"},
    "operators.audio": {
        "audio_fingerprint",
        "audio_near_dup_pairs",
        "detect_active_segments",
        "mel_filterbank",
        "mfcc_features",
        "mfcc_frames",
    },
    "operators.clustering": {
        "kmeans_assign",
        "kmeans_centroids_df",
        "kmeans_cluster_sizes",
        "kmeans_fit",
    },
    "operators.dedup": {"connected_components_star", "lsh_bucket_balance"},
    "operators.dsir": {"dsir_select_per_group"},
    "operators.joins": {"salted_join"},
    "operators.multimodal": {
        "hamming_near_dup_pairs",
        "image_near_dup_pairs",
        "image_sharpness",
        "phash_images",
        "sig_from_halves",
        "strip_image_metadata",
    },
    "operators.sampling": {"stratified_sample", "weighted_sample_per_group"},
    "operators.search": {"rrf_fuse"},
    "operators.similarity": {"brute_force_topk_distributed", "train_pq_codebooks"},
    "operators.sketches": {"cms_point_estimates", "merge_cms", "merge_cms_distributed"},
    "operators.video": {
        "detect_scene_cuts",
        "sample_keyframes_per_scene",
        "sample_video_frames",
        "video_near_dup_pairs",
    },
    "operators.warc": {"parse_warc"},
    "sources.files": {"read_csv_quarantine", "read_jsonl_quarantine"},
    "sources.rest": {"RestSource", "fetch_manifest", "fetch_with_retry"},
    "streaming.pipeline": {
        "interval_enrich_join",
        "read_events_stream",
        "streaming_dedup",
        "streaming_kv_latest",
    },
    "streaming.stateful": {"funnel_stream", "pack_sequences_stream"},
}


def _package_modules() -> dict[str, ast.Module]:
    out = {}
    base = os.path.join(ROOT, PACKAGE)
    for dirpath, _, files in os.walk(base):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                rel = os.path.relpath(path, base)[: -len(".py")]
                with open(path, encoding="utf-8") as fh:
                    out[rel.replace(os.sep, ".")] = ast.parse(fh.read(), path)
    return out


def _root_files() -> list[str]:
    files = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    pb = os.path.join(ROOT, "perfbench")
    files += [os.path.join(pb, f) for f in sorted(os.listdir(pb)) if f.endswith(".py")]
    return files


def _mentions(nodes, strings: bool = False) -> set[str]:
    """Names and attribute names used in ``nodes``; import statements
    are skipped (importing is not reaching)."""
    out: set[str] = set()
    stack = list(nodes)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif strings and isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                out.add(node.value)
        stack.extend(ast.iter_child_nodes(node))
    return out


def _is_register(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return isinstance(f, ast.Name) and f.id == "register"


def scan(modules: dict[str, ast.Module], root_files: list[str]):
    """(public, reached): public top-level names as ``(module, name)``
    pairs, and the set of names the roots reach transitively."""
    bodies: dict[str, list[ast.AST]] = {}  # name -> every top-level def of it
    public: set[tuple[str, str]] = set()
    seeds: set[str] = set()
    for mod, tree in modules.items():
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                bodies.setdefault(node.name, []).append(node)
                if not node.name.startswith("_"):
                    public.add((mod, node.name))
                # decorators, defaults and bases run at import time
                head = list(node.decorator_list)
                if isinstance(node, ast.ClassDef):
                    head += node.bases
                else:
                    head += node.args.defaults + [d for d in node.args.kw_defaults if d]
                seeds |= _mentions(head)
                if any(_is_register(d) for d in node.decorator_list):
                    seeds.add(node.name)
                if mod == "plans.etl_job" and node.name == "run_etl":
                    seeds.add(node.name)
            else:
                seeds |= _mentions([node])
    for path in root_files:
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        # perfbench wraps package functions by attribute-name string
        seeds |= _mentions([tree], strings=True)
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                seeds |= {a.asname or a.name.split(".")[-1] for a in node.names}
    reached: set[str] = set()
    todo = [n for n in seeds if n in bodies]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for node in bodies[name]:
            todo += [n for n in _mentions([node]) if n in bodies and n not in reached]
    return public, reached


def _check(modules, root_files, allowed) -> list[str]:
    public, reached = scan(modules, root_files)
    errors = []
    for mod, name in sorted(public):
        if name not in reached and name not in allowed.get(mod, ()):
            errors.append(f"{mod}.{name}: public but unreached and not allow-listed")
    for mod, names in sorted(allowed.items()):
        for name in sorted(names):
            if (mod, name) not in public:
                errors.append(f"{mod}.{name}: allow-listed but no longer exists")
            elif name in reached:
                errors.append(f"{mod}.{name}: allow-listed but now reached")
    return errors


def test_every_public_name_is_reached_or_allow_listed():
    errors = _check(_package_modules(), _root_files(), ALLOWED_UNREACHED)
    assert not errors, "\n".join(errors)


def test_scan_flags_unreached_stale_and_revived_names():
    """The checker itself, on a synthetic package: an unreached public
    function fails, a reached allow-listed one fails, a missing one fails,
    and an import alone reaches nothing."""
    src = {
        "plans.q": (
            "from ..operators.a import used, only_imported\n"
            "@register('q')\n"
            "def q(spark, sf):\n"
            "    return used(spark)\n"
        ),
        "operators.a": (
            "def used(x):\n    return _helper(x)\n"
            "def _helper(x):\n    return deep(x)\n"
            "def deep(x):\n    return x\n"
            "def only_imported(x):\n    return x\n"
            "def orphan(x):\n    return x\n"
        ),
    }
    modules = {m: ast.parse(s) for m, s in src.items()}
    public, reached = scan(modules, [])
    assert {"used", "deep", "q"} <= reached
    assert "only_imported" not in reached and "orphan" not in reached
    errors = _check(modules, [], {"operators.a": {"only_imported", "deep", "gone"}})
    assert errors == [
        "operators.a.orphan: public but unreached and not allow-listed",
        "operators.a.deep: allow-listed but now reached",
        "operators.a.gone: allow-listed but no longer exists",
    ]
