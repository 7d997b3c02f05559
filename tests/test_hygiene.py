"""Code hygiene: every function, method and class the package defines has a
caller outside ``tests/``.  A helper only tests reach is either dead or a
test-only twin of production code; delete it with its tests, or name it
in ALLOWED with the reason it stays.

Non-test callers: the package itself, ``__spark_entry__.py``,
``main_kg.py``, ``bench*.py``, ``scripts/`` and ``perfbench/``.  A
reference is any name, attribute or import of the identifier (outside
its own ``def``), so the scan is conservative: a method that shares its
name with another callable counts as referenced."""

import ast
import collections
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ontologybasedkgcreation_spark"

ALLOWED = {
    # specs that tests compare the engine against
    "srp_band_cols": "the JVM SRP spec the fast mapInPandas stage is "
    "pinned bit-exact against",
    "subclass_closure": "the Python closure spec subclass_closure_frame "
    "is pinned against",
    # inputs for the decoder tests
    "encode_bmp": "builds BMP inputs for the decoder tests",
    "encode_wav": "builds WAV inputs for the decoder tests",
    # library entry points: the public API a user calls, with no caller in
    # this repository's own jobs
    "CheckpointedPipeline": "the resumable mode BASELINE's north rule "
    "requires",
    "start_triples_sink": "streaming entry point (readStream -> triples "
    "checkpoint table)",
    "start_graph_maintenance": "streaming entry point (per-micro-batch "
    "graph merge)",
    "triple_precision_recall": "the fixture P/R gate's comparator",
    "extract_features": "media feature extraction entry point",
    "frame_sample_features": "video frame-sampling entry point",
    "hashing_feature_vectors": "the deterministic lexical embedder a "
    "refine_pairs_semantic caller plugs in (the linker's own refine "
    "computes the same vectors per pair, similarity.hashing_cosine)",
}


def _py_files(*patterns):
    out = []
    for pat in patterns:
        out.extend(glob.glob(os.path.join(ROOT, pat), recursive=True))
    return sorted(set(out))


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _defined():
    names = collections.defaultdict(list)
    for path in _py_files(f"{PKG}/**/*.py"):
        for node in ast.walk(_parse(path)):
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("__"):
                names[node.name].append(os.path.relpath(path, ROOT))
    return names


def _referenced_outside_tests():
    callers = _py_files(
        f"{PKG}/**/*.py",
        "__spark_entry__.py",
        "main_kg.py",
        "bench*.py",
        "scripts/**/*.py",
        "perfbench/**/*.py",
    )
    seen = set()
    for path in callers:
        if os.path.relpath(path, ROOT).startswith("perfbench/tests/"):
            continue
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Name):
                seen.add(node.id)
            elif isinstance(node, ast.Attribute):
                seen.add(node.attr)
            elif isinstance(node, ast.alias):
                seen.add(node.name.rsplit(".", 1)[-1])
    return seen


def test_no_function_is_reached_only_from_tests():
    used = _referenced_outside_tests()
    orphans = {
        name: where
        for name, where in _defined().items()
        if name not in used and name not in ALLOWED
    }
    assert not orphans, (
        "defined in the package but referenced only from tests/ (or not "
        f"at all): {orphans}"
    )


def test_allowlist_names_exist_and_are_needed():
    """Every allowlisted name still exists and still has no caller
    outside tests — a stale entry would hide the next orphan."""
    assert set(ALLOWED) <= set(_defined()), set(ALLOWED) - set(_defined())
    needless = set(ALLOWED) & _referenced_outside_tests()
    assert not needless, needless
