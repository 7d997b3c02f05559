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
    # library entry points: the public API a user calls, with no caller in
    # this repository's own jobs
    "CheckpointedPipeline": "the resumable mode BASELINE's north rule "
    "requires",
    "start_triples_sink": "streaming entry point (readStream -> triples "
    "checkpoint table)",
    "start_graph_maintenance": "streaming entry point (per-micro-batch "
    "graph merge)",
    "triple_precision_recall": "the fixture P/R gate's comparator",
    "hashing_feature_vectors": "the deterministic lexical embedder a "
    "refine_pairs_semantic caller plugs in (the linker's own refine "
    "computes the same vectors per pair, similarity.hashing_cosine)",
}


# environment variables the package reads that no file here sets: the
# deployment settings an operator exports
ENV_ALLOWED = {
    "SPARK_GRAFT_MASTER": "a master address for a job spark-submit did "
    "not start",
    "SPARK_GRAFT_CPUS": "the local[N] thread count; the tier-1 verify "
    "command sets it",
    "ONTOKG_ABBREV_PATH": "deployment path of an abbreviation file that "
    "widens the built-in table",
    "ONTOKG_PSL_PATH": "deployment path of a full public suffix list",
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


def _callers():
    return [
        path
        for path in _py_files(
            f"{PKG}/**/*.py",
            "__spark_entry__.py",
            "main_kg.py",
            "bench*.py",
            "scripts/**/*.py",
            "perfbench/**/*.py",
        )
        if not os.path.relpath(path, ROOT).startswith("perfbench/tests/")
    ]


def _referenced_outside_tests():
    seen = set()
    for path in _callers():
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


def _is_environ(node):
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_read_keys(tree):
    """The string-literal key nodes of ``os.environ.get("NAME")`` and
    ``os.environ["NAME"]`` reads."""
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "get"
            and _is_environ(node.func.value)
            and node.args
        ):
            key = node.args[0]
        elif (
            isinstance(node, ast.Subscript)
            and isinstance(node.ctx, ast.Load)
            and _is_environ(node.value)
        ):
            key = node.slice
        else:
            continue
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            yield key


def test_env_vars_have_a_setter():
    """Every environment variable the package reads is named by a non-test
    caller other than at a read (perfbench's pinned environment, say), or
    is a deployment setting in ENV_ALLOWED.  A knob nothing sets is a
    constant: make it one."""
    read = set()
    for path in _py_files(f"{PKG}/**/*.py"):
        read |= {key.value for key in _env_read_keys(_parse(path))}
    named = set()
    for path in _callers():
        tree = _parse(path)
        at_read = {id(key) for key in _env_read_keys(tree)}
        named |= {
            node.value
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in at_read
        }
    unset = read - named - set(ENV_ALLOWED)
    assert not unset, f"read by the package but set by nothing: {unset}"
    assert set(ENV_ALLOWED) <= read, set(ENV_ALLOWED) - read
